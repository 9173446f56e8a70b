"""Track algebra semantics — crafted fixtures that exercise the behaviors the
reference pins down: first-arrival dedup on equal timestamps, oldest-first
eviction at the cap, latest/oldest/neighbor lookups."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from stateful_spark_streaming_spark.operators import tracks as TR


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture()
def flights(spark):
    rows = [
        # key A: 12 distinct timestamps (cap 10 must evict the 2 oldest)
        *[Row(arrival=i, key="A", ts=_ts(i), val=float(i)) for i in range(12)],
        # key B: duplicate timestamp — arrival 100 first, 101 must be dropped
        Row(arrival=100, key="B", ts=_ts(5), val=1.0),
        Row(arrival=101, key="B", ts=_ts(5), val=2.0),
        Row(arrival=102, key="B", ts=_ts(7), val=3.0),
    ]
    return spark.createDataFrame(rows)


def test_dedup_keeps_first_arrival(flights):
    out = TR.dedup_first_arrival(flights, "key", "ts", "arrival")
    b = {r.arrival: r for r in out.filter("key = 'B'").collect()}
    assert set(b) == {100, 102}, "later-arriving equal-ts row must be rejected"
    assert b[100].val == 1.0


def test_bound_last_n_evicts_oldest(flights):
    out = TR.build_tracks(flights, "key", "ts", "arrival", max_per_track=10)
    a = sorted(r.ts for r in out.filter("key = 'A'").collect())
    assert len(a) == 10
    assert a[0] == _ts(2), "two oldest rows evicted"
    assert a[-1] == _ts(11)


def test_track_counts_and_latest_oldest(flights):
    tracks = TR.build_tracks(flights, "key", "ts", "arrival", max_per_track=10)
    counts = {r.key: r.track_count for r in TR.track_counts(tracks, "key").collect()}
    assert counts == {"A": 10, "B": 2}

    latest = {r.key: r for r in TR.track_latest(tracks, "key", "ts", ["val"]).collect()}
    assert latest["A"].latest_val == 11.0
    assert latest["B"].latest_val == 3.0

    oldest = {r.key: r for r in TR.track_oldest(tracks, "key", "ts", ["val"]).collect()}
    assert oldest["A"].oldest_val == 2.0
    assert oldest["B"].oldest_val == 1.0  # the first-arrival survivor


def test_track_neighbors(flights):
    deduped = TR.dedup_first_arrival(flights, "key", "ts", "arrival")
    out = TR.track_neighbors(deduped, "key", "ts", ["val"], n=1)
    b = {r.ts: r for r in out.filter("key = 'B'").collect()}
    assert b[_ts(5)].prev1_val is None
    assert b[_ts(5)].next1_val == 3.0
    assert b[_ts(7)].prev1_val == 1.0


def test_track_range_strict_bounds(flights):
    out = TR.track_range(flights.filter("key = 'A'"), "ts", start=_ts(3), end=_ts(6))
    got = sorted(r.ts.second for r in out.collect())
    assert got == [4, 5], "bounds are strict (reference before/after semantics)"


def test_snapshot_shape(spark, sf_dir):
    from stateful_spark_streaming_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    snap = TR.track_snapshot(ev, "user_id", "ts", "event_id", ["event_type", "value"])
    rows = snap.collect()
    assert len(rows) == ev.select("user_id").distinct().count()
    assert all(r.track_count <= 10 for r in rows)
    cols = set(snap.columns)
    assert {"user_id", "track_count", "latest_ts_ms", "oldest_ts_ms",
            "latest_event_type", "latest_value"} == cols


def test_track_membership_ops(flights):
    """W7: contains / remove / clear / isEmpty (FeatureTrack.scala:23-49)."""
    # contains: A has a feature at t=5, B has one at t=5, neither at t=30
    c5 = {r.key: r.contains_at for r in TR.track_contains(
        flights, "key", "ts", _ts(5)).collect()}
    assert c5 == {"A": True, "B": True}
    c30 = {r.key: r.contains_at for r in TR.track_contains(
        flights, "key", "ts", _ts(30)).collect()}
    assert c30 == {"A": False, "B": False}

    # remove: dropping t=5 removes one A row and both equal-ts B rows
    removed = TR.track_remove(flights, "ts", _ts(5))
    assert removed.filter("ts = timestamp '2024-01-01 00:00:05'").count() == 0
    assert removed.count() == flights.count() - 3

    # clear selected keys / all keys
    only_a = TR.track_clear(flights, "key", keys=["B"])
    assert {r.key for r in only_a.select("key").distinct().collect()} == {"A"}
    assert TR.track_clear(flights, "key").count() == 0

    # isEmpty relative to the original key universe
    emptied = TR.track_clear(flights, "key", keys=["B"])
    empt = {r.key: r.is_empty for r in TR.track_is_empty(
        emptied, "key", flights).collect()}
    assert empt == {"A": False, "B": True}


# ------------------------------------------------ the streaming fold, no Spark
# track_state._fold_core is the per-key fold the applyInPandasWithState
# closure runs each trigger; these call it directly on pandas frames whose
# ts column holds epoch-ms ints, as track_state._fold_input delivers it.


def _fold(state, rows):
    """Fold ``rows`` [(ts_ms, arrival, val)] into ``state``
    (ts_ms, arrival, [vals]) on a 3-deep track; returns the new state."""
    import pandas as pd

    from stateful_spark_streaming_spark.streaming.track_state import (
        TrackStateConfig,
        _fold_core,
    )

    cfg = TrackStateConfig(
        key="key", ts="ts", arrival="arrival", value_cols=("val",),
        value_types=("double",), max_per_track=3, key_type="string",
    )
    new = pd.DataFrame(
        {
            "ts": pd.Series([r[0] for r in rows], dtype="int64"),
            "arrival": pd.Series([r[1] for r in rows], dtype="int64"),
            "val": [r[2] for r in rows],
        }
    )
    ts_ms, arrival, vals = state
    return _fold_core(cfg, list(ts_ms), list(arrival), [list(v) for v in vals], new)


def test_fold_state_wins_equal_ts_against_lower_arrival():
    """T3, state first: a resend at a stored timestamp is rejected even
    when its arrival id is LOWER (xxhash ids span negative int64)."""
    state = ([1000, 2000], [7, 8], [[1.0, 2.0]])
    assert _fold(state, [(2000, -(2**62), 9.0)]) == state


def test_fold_lowest_arrival_wins_within_batch():
    """T3 within a batch: among equal-ts new rows the lowest arrival id
    wins, whatever the row order."""
    empty = ([], [], [[]])
    got = _fold(empty, [(5000, 50, 1.0), (5000, -3, 2.0), (5000, 4, 3.0)])
    assert got == ([5000], [-3], [[2.0]])


def test_fold_late_rows_against_full_track():
    """T4 across calls: on a full track a late row older than the oldest
    stored one is dropped; a late row inside the window is kept and the
    oldest is evicted."""
    full = ([1000, 2000, 3000], [1, 2, 3], [[1.0, 2.0, 3.0]])
    assert _fold(full, [(500, 9, 0.5)]) == full
    assert _fold(full, [(1500, 9, 1.5)]) == (
        [1500, 2000, 3000], [9, 2, 3], [[1.5, 2.0, 3.0]]
    )


def _reference_fold(cfg, ts_ms, arrival, vals, new):
    """The pandas fold the list fold replaced, kept as the reference:
    concat → stable (ts, is_new, arrival) sort → first per ts → tail."""
    import pandas as pd

    if not len(new):
        return ts_ms, arrival, vals
    cur = pd.DataFrame(
        {
            "_ts": ts_ms + new[cfg.ts].astype("int64").tolist(),
            "_is_new": [0] * len(ts_ms) + [1] * len(new),
            "_arr": arrival + new[cfg.arrival].astype("int64").tolist(),
            **{
                f"_v{i}": vals[i] + new[c].tolist()
                for i, c in enumerate(cfg.value_cols)
            },
        }
    )
    cur = cur.sort_values(["_ts", "_is_new", "_arr"], kind="stable")
    cur = cur[~cur["_ts"].duplicated(keep="first")]
    if cfg.max_per_track:
        cur = cur.tail(cfg.max_per_track)
    return (
        cur["_ts"].tolist(),
        cur["_arr"].tolist(),
        [cur[f"_v{i}"].tolist() for i in range(len(cfg.value_cols))],
    )


def test_fold_equals_pandas_reference_on_random_cases():
    """The list fold returns exactly what the pandas reference does —
    same rows, same order, Python ints — over seeded random cases with ts
    collisions, resends of stored timestamps, int64-extreme and negative
    arrival ids, and caps 0 (unbounded), 1, 3 and 10."""
    import random

    import pandas as pd

    from stateful_spark_streaming_spark.streaming.track_state import (
        TrackStateConfig,
        _fold_core,
    )

    rng = random.Random(20240101)
    extremes = [-(2**63), 2**63 - 1, -1, 0, 1]

    def arrival_id():
        if rng.random() < 0.3:
            return rng.choice(extremes)
        return rng.randint(-(2**63), 2**63 - 1)

    for case in range(512):
        cfg = TrackStateConfig(
            key="k", ts="ts", arrival="arr", value_cols=("x", "s"),
            value_types=("double", "string"),
            max_per_track=(0, 1, 3, 10)[case % 4], key_type="string",
        )
        span = rng.choice([5, 30, 10**6])  # small spans force collisions
        stored = sorted(rng.sample(range(-span, span), rng.randint(0, min(12, span))))
        st_arr = [arrival_id() for _ in stored]
        st_vals = [
            [rng.random() for _ in stored],
            [rng.choice(["a", "b", None]) for _ in stored],
        ]
        n_new = rng.randint(0, 25)
        new_ts = [
            rng.choice(stored) if stored and rng.random() < 0.3
            else rng.randrange(-span, span)
            for _ in range(n_new)
        ]
        new = pd.DataFrame(
            {
                "ts": pd.Series(new_ts, dtype="int64"),
                "arr": pd.Series([arrival_id() for _ in range(n_new)], dtype="int64"),
                "x": pd.Series([rng.random() for _ in range(n_new)], dtype="float64"),
                "s": pd.Series(
                    [rng.choice(["a", "b", None]) for _ in range(n_new)], dtype=object
                ),
            }
        )

        def state():
            return list(stored), list(st_arr), [list(v) for v in st_vals]

        want = _reference_fold(cfg, *state(), new)
        got = _fold_core(cfg, *state(), new)
        assert got == want, f"case {case}"
        assert all(type(v) is int for v in got[0] + got[1]), f"case {case}"
        assert all(type(v) is float for v in got[2][0]), f"case {case}"


def test_fold_input_projects_epoch_ms_and_fold_columns(spark):
    """The projection in front of the group: a null event time becomes 0,
    sub-ms and pre-1970 times floor like numpy's datetime64[ms] cast, and
    only key, ts, arrival and the value columns reach the fold."""
    import numpy as np
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.streaming.track_state import (
        TrackStateConfig,
        _fold_input,
    )

    micros = [None, 0, 1, 999, 1_500, -1, -999, -1_000, -1_001, -1_500,
              1_331_907_930_123_456, -86_400_000_001]
    df = spark.createDataFrame(
        [(f"k{i}", m, i, float(i), "x") for i, m in enumerate(micros)],
        "key string, us long, arr long, val double, extra string",
    ).select(
        "key", F.timestamp_micros("us").alias("ts"), "arr", "val", "extra",
        F.struct(F.col("val").alias("lon"), F.col("val").alias("lat")).alias("geometry"),
    )
    cfg = TrackStateConfig(
        key="key", ts="ts", arrival="arr", value_cols=("val",),
        value_types=("double",), key_type="string",
    )
    out = _fold_input(df, cfg)
    assert out.columns == ["key", "ts", "arr", "val"]
    assert dict(out.dtypes)["ts"] == "bigint"
    got = {r.key: r.ts for r in out.collect()}
    want = [0] + np.array(micros[1:], dtype="datetime64[us]").astype(
        "datetime64[ms]").astype("int64").tolist()
    assert [got[f"k{i}"] for i in range(len(micros))] == want
