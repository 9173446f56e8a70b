"""Evidence-staleness audit for the driver's 50-entry CORRECTNESS window.

The driver records rows for exactly the FIRST 50 catalog entries each
round, so which queries carry fresh evidence is decided by the
``_CHEAP_FIRST`` ordering.  This tool unions every ``CORRECTNESS_r*.json``
and reports, per catalog query: the newest round with a green row, its
status, and whether the query sits inside the current window — so a
rotation can be planned from data instead of from comments (the round-6
review found exactly one provenance comment that had drifted).

Exit 1 if any query's newest green row is ``--max-stale`` or more rounds
behind the latest recorded round AND it is not already queued inside the
current window (i.e. evidence is stale and no refresh is coming), or if
a query has no green row at all (never recorded, or only RED rows) and
is outside the window.

``--plan [--pin a,b,c]`` computes the NEXT round's optimal window —
entries whose evidence ages out soonest first (oldest green row, catalog
order as tiebreak), then the pinned changed-this-round entries, then
oldest-green fill — and writes it to
``stateful_spark_streaming_spark/window_plan.json``, which the catalog
imports as its leading block.  The round-8 verdict (#5) asked for exactly
this: the window list is emitted BY the tool INTO a checked-in file, so
the catalog's provenance comment can never drift from the data again.

The default (audit) mode also verifies the checked-in plan: if the plan's
round is behind ``latest_round + 1`` the plan is stale (a new round was
recorded without regenerating it) — that is a problem, because the
catalog would re-record last round's window and push the next cohort past
the staleness horizon.

Run: python tools/window_audit.py [--max-stale N] [--plan] [--pin a,b,c]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50

PLAN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stateful_spark_streaming_spark",
    "window_plan.json",
)


def _collect(repo: str):
    """Union every CORRECTNESS_r*.json → (newest_green, newest_any, latest)."""
    newest_green: dict[str, int] = {}
    newest_any: dict[str, tuple[int, str]] = {}
    latest_round = 0
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        latest_round = max(latest_round, rnd)
        try:
            data = json.load(open(f))
        except Exception as e:  # a malformed round file is a finding, not a crash
            print(f"warn: cannot parse {f}: {e}")
            continue
        for q, row in data.items():
            # rows-only queries (no oracle by construction) are recorded
            # as err='no_oracle' with only spark_rows populated — that IS
            # their green state, not a failure
            rows_only_ok = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            green = bool(row.get("hash_match")) or rows_only_ok
            status = (
                "green-hash"
                if row.get("hash_match")
                else ("green-rows" if rows_only_ok else "RED")
            )
            if rnd >= newest_any.get(q, (0, ""))[0]:
                newest_any[q] = (rnd, status)
            if green and rnd > newest_green.get(q, 0):
                newest_green[q] = rnd
    return newest_green, newest_any, latest_round


def plan(max_stale: int, pins: list[str]) -> int:
    from stateful_spark_streaming_spark.queries_catalog import QUERIES

    names = list(QUERIES)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest_green, _newest_any, latest_round = _collect(repo)
    nxt = latest_round + 1

    unknown = [p for p in pins if p not in names]
    if unknown:
        print(f"error: pinned queries not in catalog: {unknown}")
        return 1

    # urgency order: never-green first, then oldest green row; current
    # catalog position breaks ties (it encodes the cheap-first hedge).
    urgency = sorted(
        names, key=lambda q: (newest_green.get(q, -1), names.index(q))
    )
    # must-lead: evidence goes stale the moment round `nxt` is recorded
    # (flagged when latest(=nxt) - green >= max_stale)
    stale = [q for q in urgency if newest_green.get(q, -(10**9)) <= nxt - max_stale]
    window: list[str] = []
    for q in stale + pins + urgency:
        if q not in window:
            window.append(q)
        if len(window) == WINDOW:
            break

    doc = {
        "round": nxt,
        "generated_by": "python tools/window_audit.py --plan"
        + (f" --pin {','.join(pins)}" if pins else ""),
        "max_stale": max_stale,
        "window_size": WINDOW,
        "stale_leads": len([q for q in window if q in stale]),
        "pins": pins,
        "window": window,
        "newest_green_at_generation": {
            q: newest_green.get(q, 0) for q in window
        },
    }
    with open(PLAN_PATH, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(
        f"wrote {PLAN_PATH}: r{nxt} window = {len(window)} entries "
        f"({doc['stale_leads']} stale leads, {len(pins)} pins); "
        f"{max(0, len(stale) - WINDOW)} stale entries deferred"
    )
    for q in window:
        tag = "PIN" if q in pins else ("stale" if q in stale else "fill")
        print(f"  {q}  (r{newest_green.get(q, 0) or '-'}, {tag})")
    return 0


def main() -> int:
    max_stale = 3
    if "--max-stale" in sys.argv:
        max_stale = int(sys.argv[sys.argv.index("--max-stale") + 1])
    if "--plan" in sys.argv:
        pins = []
        if "--pin" in sys.argv:
            pins = [
                p
                for p in sys.argv[sys.argv.index("--pin") + 1].split(",")
                if p
            ]
        return plan(max_stale, pins)

    from stateful_spark_streaming_spark.queries_catalog import QUERIES

    names = list(QUERIES)
    in_window = set(names[:WINDOW])

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest_green, newest_any, latest_round = _collect(repo)

    problems = []
    # checked-in plan freshness: the catalog's first-50 comes from the plan
    # file, so a plan generated for an already-recorded round means the
    # rotation stopped — the next driver run would re-record last round's
    # window and push the due cohort past the staleness horizon.
    if os.path.exists(PLAN_PATH):
        pdoc = json.load(open(PLAN_PATH))
        if pdoc.get("round", 0) <= latest_round:
            problems.append(
                (
                    "<window_plan.json>",
                    f"plan is for r{pdoc.get('round')} but r{latest_round} is "
                    f"already recorded — regenerate: {pdoc.get('generated_by')}",
                )
            )
        if names[:WINDOW] != pdoc.get("window", [])[:WINDOW]:
            problems.append(
                (
                    "<window_plan.json>",
                    "catalog first-50 does not match the checked-in plan",
                )
            )
    print(f"{'query':42s} {'newest':>6s} {'status':>10s} {'in-window':>9s}")
    for q in names:
        rnd = newest_green.get(q, 0)
        status = newest_any.get(q, (0, "never-recorded"))[1]
        inw = q in in_window
        flag = ""
        if rnd == 0 and not inw:
            # distinguish "no row at all" from "recorded but never green"
            flag = (
                "NEVER RECORDED, not queued"
                if q not in newest_any
                else "no green row ever, not queued"
            )
        elif rnd and latest_round - rnd >= max_stale and not inw:
            flag = f"stale (r{rnd}), not queued"
        if newest_any.get(q, (0, ""))[1] == "RED" and newest_any[q][0] >= rnd:
            flag = (flag + "; " if flag else "") + "newest row is RED"
        if flag:
            problems.append((q, flag))
        print(
            f"{q:42s} {('r'+str(rnd)) if rnd else '-':>6s} {status:>10s} "
            f"{'yes' if inw else 'no':>9s}  {flag}"
        )

    print(
        f"\n{len(names)} queries; latest recorded round r{latest_round}; "
        f"window = first {WINDOW}; {len(problems)} problem(s)"
    )
    for q, flag in problems:
        print(f"PROBLEM {q}: {flag}")

    # capacity: a query's evidence survives max_stale-1 rounds outside
    # the window, so the rotation can sustain at most max_stale×WINDOW
    # queries before some row is ALWAYS flagged
    cap = max_stale * WINDOW
    print(
        f"rotation capacity: {len(names)}/{cap} queries "
        f"(max_stale={max_stale} × window={WINDOW}); "
        f"headroom {cap - len(names)}"
    )
    # next-round plan: who must lead the NEXT window — entries whose
    # evidence goes stale after the upcoming driver run and whose refresh
    # is NOT already queued in the current window (oldest rows first)
    nxt = latest_round + 1
    urgency = sorted(
        names, key=lambda q: (newest_green.get(q, -1), names.index(q))
    )
    must = [
        q
        for q in urgency
        if q not in in_window
        and (nxt + 1) - newest_green.get(q, -(10**9)) >= max_stale
    ]
    print(
        f"suggested r{nxt + 1} window leads ({len(must)} entries whose "
        f"evidence goes stale if not re-recorded in r{nxt + 1}, assuming "
        f"the r{nxt} run records the current window):"
    )
    for q in must[:WINDOW]:
        print(f"  {q}  (r{newest_green.get(q, 0) or '-'})")
    if len(must) > WINDOW:
        print(f"  ... OVER CAPACITY by {len(must) - WINDOW} — some evidence WILL go stale")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
