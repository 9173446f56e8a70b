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
# closure runs each trigger; these call it directly on pandas frames.


def _fold(state, rows):
    """Fold ``rows`` [(ts_ms or None, arrival, val)] into ``state``
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
            "ts": pd.to_datetime(
                pd.Series([r[0] for r in rows], dtype="float64"), unit="ms"
            ),
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


def test_fold_null_event_time_is_epoch_zero():
    got = _fold(([], [], [[]]), [(None, 1, 4.0)])
    assert got == ([0], [1], [[4.0]])
