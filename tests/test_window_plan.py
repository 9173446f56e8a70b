"""Pins the tool-emitted CORRECTNESS-window rotation (VERDICT r8 #1/#5).

The driver gate records the FIRST 50 catalog entries; since round 9 that
block is generated by ``tools/window_audit.py --plan`` into
``window_plan.json`` and loaded by the catalog — these tests pin the
contract so neither side can drift silently.  No SparkSession needed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLAN = os.path.join(REPO, "stateful_spark_streaming_spark", "window_plan.json")


def _catalog_names() -> list[str]:
    sys.path.insert(0, REPO)
    from stateful_spark_streaming_spark.queries_catalog import QUERIES

    return list(QUERIES)


def _newest_green() -> tuple[dict[str, int], int]:
    newest: dict[str, int] = {}
    latest = 0
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        for q, row in json.load(open(f)).items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green and rnd > newest.get(q, 0):
                newest[q] = rnd
    return newest, latest


def test_catalog_first_50_matches_plan():
    plan = json.load(open(PLAN))
    names = _catalog_names()
    assert names[:50] == plan["window"][:50], (
        "catalog first-50 diverged from window_plan.json — regenerate with "
        "`python tools/window_audit.py --plan`"
    )


def test_plan_covers_every_stale_entry():
    """Every query whose evidence would go stale after the plan's round is
    recorded (newest green <= round - max_stale) must be IN the window —
    the exact failure mode the r8 verdict flagged (44 entries at r5)."""
    plan = json.load(open(PLAN))
    newest, _latest = _newest_green()
    rnd, max_stale = plan["round"], plan["max_stale"]
    windowed = set(plan["window"])
    stale = [
        q
        for q in _catalog_names()
        if newest.get(q, -(10**9)) <= rnd - max_stale and q not in windowed
    ]
    assert stale == [], f"stale entries not queued in the plan window: {stale}"


def test_plan_is_for_upcoming_round():
    plan = json.load(open(PLAN))
    _newest, latest = _newest_green()
    assert plan["round"] == latest + 1, (
        f"plan is for r{plan['round']} but latest recorded round is "
        f"r{latest} — regenerate with `python tools/window_audit.py --plan`"
    )


def _skip_if_post_gate():
    """After the driver records round N, a tree whose plan still targets
    round N is in the DESIGNED post-gate state: exactly ONE test —
    ``test_plan_is_for_upcoming_round``, the canary — should go red
    (r11 verdict: three reds read as breakage).  The audit-exit and
    determinism tests below re-derive the plan and would trip on the
    same single cause, so they skip with the canary's message instead."""
    plan = json.load(open(PLAN))
    _newest, latest = _newest_green()
    if plan["round"] <= latest:
        pytest.skip(
            f"post-gate: plan targets r{plan['round']} but r{latest} is "
            "recorded — the designed tripwire test_plan_is_for_upcoming_round "
            "is the single red; regenerate with "
            "`python tools/window_audit.py --plan`"
        )


def test_audit_tool_exits_clean():
    _skip_if_post_gate()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "window_audit.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert r.returncode == 0, f"window_audit flagged problems:\n{r.stdout[-3000:]}"


def test_plan_generator_is_deterministic(tmp_path):
    """Re-running --plan with the recorded pins must reproduce the
    checked-in file byte-for-byte (modulo trailing newline)."""
    _skip_if_post_gate()
    plan = json.load(open(PLAN))
    pins = plan.get("pins", [])
    cmd = [sys.executable, os.path.join(REPO, "tools", "window_audit.py"), "--plan"]
    if pins:
        cmd += ["--pin", ",".join(pins)]
    before = open(PLAN).read()
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=120)
        assert r.returncode == 0, r.stdout + r.stderr
        after = open(PLAN).read()
        assert after == before, "plan generation is not deterministic"
    finally:
        with open(PLAN, "w") as fh:
            fh.write(before)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
