"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and an
order-insensitive value hash.  Use while iterating so CORRECTNESS_r{N}.json
holds no surprises.

DRIVER-FAITHFUL since round 5: the round-4 gate failed four queries this
replica passed, because the driver canonicalizes through *pandas* —
(a) its hashing is dtype-sensitive, so a DuckDB HUGEINT sum (→ float64 in
pandas) mismatches Spark's int64 even when ``%.6g`` renders both "2534",
and (b) its ``sort_values`` over all columns crashes on list cells
(``unhashable type: 'list'``).  Both sides are therefore converted to
pandas here, rows sorted via ``sort_values`` (so unhashable columns fail
exactly like the gate), and a numeric dtype-CLASS vector (int vs float)
is compared alongside the value hash.

  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v) -> str:
    import datetime

    import numpy as np

    if v is None or v is pd_NA:
        return "NULL"
    try:
        if v != v:  # NaN / NaT — both fail self-equality
            # Deliberately the SAME token as NULL: the driver gate
            # canonicalizes through pandas, and pandas represents SQL NULL
            # in a float64 column as NaN — the two are indistinguishable
            # on BOTH sides of the driver's compare, so a replica that
            # split them would report divergences the gate cannot see
            # (and the repo's own convention rounds/coalesces floats so a
            # genuine NaN-vs-NULL split never reaches an oracle).
            return "NULL"
    except Exception:
        pass  # e.g. ndarray truth ambiguity — handled below
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.6g}"
    if isinstance(v, datetime.datetime):
        # midnight timestamps render as plain dates: DuckDB's .df() widens
        # DATE to datetime64 while Spark keeps DateType → datetime.date, and
        # the driver gate accepts that split (monthly_revenue et al. were
        # green r3/r4) — so the replica must too
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


try:
    import pandas as _pd

    pd_NA = _pd.NA
except Exception:  # pragma: no cover
    pd_NA = object()


def dtype_class(dt) -> str:
    """Coarse numeric class of a pandas dtype — int vs float is the split
    the driver's dtype-sensitive hash trips on (HUGEINT → float64)."""
    k = getattr(dt, "kind", "O")
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    return "other"


def canon_pandas(pdf) -> tuple[int, tuple, str]:
    """(n_rows, dtype-class vector, value hash) after driver-style
    canonicalization: columns sorted by name, rows sorted by all columns.
    ``sort_values`` raises TypeError on list/array cells — deliberately
    NOT caught here, mirroring the gate's crash on such output."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    classes = tuple(dtype_class(pdf[c].dtype) for c in cols)
    lines = [
        "|".join(norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    # lines are pre-sorted row-wise by sort_values; re-sort the rendered
    # strings so the hash is stable even where sort_values tie-breaks by
    # position (e.g. NaN placement differs between engines)
    h = hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]
    return len(pdf), classes, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from stateful_spark_streaming_spark.session import get_spark

    spark = get_spark(
        "oracle-check", master="local[8]", shuffle_partitions=8,
        # no [Stage …] bar: it glues onto result lines in a redirected log
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    unknown = only - set(qs)
    if unknown:
        # a typo'd name must FAIL loudly, not report "0/0 pass" with
        # exit 0 from the pre-gate assurance tool
        print(f"FAIL: unknown query name(s): {sorted(unknown)}")
        spark.stop()
        return 1

    n_checked = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spdf = sdf.toPandas()
            sn, sclass, sh = canon_pandas(spdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark/canon error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"okay  {name}: rows={sn} (no oracle — rows-only check)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
            ocols = list(opdf.columns)
            on, oclass, oh = canon_pandas(opdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb/canon error: {e}")
            failures.append(name)
            continue
        cols_match = sorted(scols) == sorted(ocols)
        class_match = sclass == oclass
        ok = cols_match and sn == on and sh == oh and class_match
        status = "PASS" if ok else "FAIL"
        msg = f"{status}  {name}: spark rows={sn} hash={sh} | duckdb rows={on} hash={oh}"
        if not cols_match:
            msg += f" | COLS spark={sorted(scols)} duckdb={sorted(ocols)}"
        if not class_match:
            msg += f" | DTYPE spark={sclass} duckdb={oclass}"
        print(msg)
        if not ok:
            failures.append(name)
            if sn == on and cols_match and sh != oh:
                # show first differing lines to debug value mismatches
                so = sorted(scols)
                ls = sorted(
                    "|".join(norm_cell(v) for v in row)
                    for row in spdf[so].itertuples(index=False, name=None)
                )
                lo = sorted(
                    "|".join(norm_cell(v) for v in row)
                    for row in opdf[so].itertuples(index=False, name=None)
                )
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"      spark : {a}\n      duckdb: {b}")
                        break
    print(f"\n{n_checked - len(failures)}/{n_checked} checked queries pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
