"""Structured Streaming track-state tests.

Mirrors the reference's manual replay methodology (SURVEY §5): drip
FlightSim-like batches one per micro-batch, assert the golden per-batch
state counts, duplicate-replay no-op, bounded retention, and — the critical
inversion of the reference's negative golden — checkpoint restart that
WORKS (README.md:24-108 documents the DStream version failing)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.streaming.pipeline import (
    FLIGHT_TRACK_CONFIG,
    ParquetSnapshotSink,
    file_flight_source,
    flight_socket_pipeline,
    run_snapshot_query,
)

# 3 flights × configurable ticks, FlightSim-shaped CSV lines
FLIGHTS = ["ASA2", "SWA510", "SWA2706"]


def _csv_line(fid: str, tick: int) -> str:
    t = f"3/16/2012 02:25:{30 + tick:02d} PM"
    return f'"{fid}","{t}",-79.58,34.26,"IAD","TPA","B733",37000'


def _write_batch(dirpath: str, batch_no: int, ticks: list[int]) -> None:
    lines = [_csv_line(f, t) for t in ticks for f in FLIGHTS]
    with open(os.path.join(dirpath, f"batch{batch_no:03d}.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _wait_batches(sink: ParquetSnapshotSink, n: int, timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while sink.batches_seen < n and time.time() < deadline:
        time.sleep(0.3)
    assert sink.batches_seen >= n, f"saw {sink.batches_seen} batches, wanted {n}"


@pytest.fixture()
def workdir(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return tmp_path


def test_drip_replay_golden_counts(spark, workdir):
    """After batch k every track holds exactly k features (FIXTURES.md §1)."""
    src = str(workdir / "src")
    _write_batch(src, 1, [0])
    h = flight_socket_pipeline(
        spark,
        file_flight_source(spark, src),
        checkpoint_dir=str(workdir / "ckpt"),
        trigger_seconds=0.5,
    )
    try:
        _wait_batches(h.sink, 1)
        counts = {r[0]: r[1] for r in h.sink.query(
            "select flightId, track_count from Flights").collect()}
        assert counts == {f: 1 for f in FLIGHTS}

        _write_batch(src, 2, [1])
        _wait_batches(h.sink, 2)
        counts = {r[0]: r[1] for r in h.sink.query(
            "select flightId, track_count from Flights").collect()}
        assert counts == {f: 2 for f in FLIGHTS}

        # duplicate replay of tick 1 → timestamp dedup → counts unchanged
        _write_batch(src, 3, [1])
        _wait_batches(h.sink, 3)
        counts = {r[0]: r[1] for r in h.sink.query(
            "select flightId, track_count from Flights").collect()}
        assert counts == {f: 2 for f in FLIGHTS}, "duplicate batch must be a no-op"
    finally:
        h.stop()


def test_bounded_retention_and_latest(spark, workdir):
    """14 distinct ticks → cap 10; latest_ts reflects the newest tick."""
    src = str(workdir / "src")
    _write_batch(src, 1, list(range(14)))
    h = flight_socket_pipeline(
        spark,
        file_flight_source(spark, src),
        checkpoint_dir=str(workdir / "ckpt"),
        trigger_seconds=0.5,
    )
    try:
        _wait_batches(h.sink, 1)
        rows = h.sink.query(
            "select flightId, track_count, latest_ts_ms, oldest_ts_ms from Flights"
        ).collect()
        assert {r.track_count for r in rows} == {10}
        for r in rows:
            # newest tick = :43, oldest retained = :34 (14 ticks, keep last 10)
            assert (r.latest_ts_ms - r.oldest_ts_ms) == 9000
    finally:
        h.stop()


def test_checkpoint_restart_resumes(spark, workdir):
    """Stop → restart with same checkpoint → state survives and new data
    lands on top (the outcome the reference demonstrates failing)."""
    src = str(workdir / "src")
    ckpt = str(workdir / "ckpt")
    _write_batch(src, 1, [0, 1])
    h = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        _wait_batches(h.sink, 1)
    finally:
        h.stop()

    # restart: same checkpoint, new batch appears while "down"
    _write_batch(src, 2, [2])
    h2 = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        deadline = time.time() + 60
        counts = {}
        while time.time() < deadline:
            rows = h2.sink.query(
                "select flightId, track_count from Flights").collect()
            counts = {r[0]: r[1] for r in rows}
            if counts == {f: 3 for f in FLIGHTS}:
                break
            time.sleep(0.5)
        assert counts == {f: 3 for f in FLIGHTS}, (
            f"state not recovered after restart: {counts}"
        )
    finally:
        h2.stop()


def test_snapshot_sink_compaction_and_full_view(spark, workdir):
    """The parquet snapshot sink keeps ALL keys queryable (not only the
    last batch's updated keys), compaction folds the log into base without
    changing the view, and the compacted view survives a restart even when
    a key receives no further data."""
    src = str(workdir / "src")
    ckpt = str(workdir / "ckpt")
    _write_batch(src, 1, [0])
    _write_batch(src, 2, [1])
    h = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        _wait_batches(h.sink, 2)
        before = {r[0]: r[1] for r in h.sink.query(
            "select flightId, track_count from Flights").collect()}
        assert before == {f: 2 for f in FLIGHTS}
    finally:
        h.stop()

    h.sink.compact()
    assert not os.path.exists(h.sink.log_dir), "log folded into base"
    after = {r[0]: r[1] for r in h.sink.query(
        "select flightId, track_count from Flights").collect()}
    assert after == before, "compaction must not change the view"

    # restart with a batch that touches NO existing flight: old keys must
    # still be served from the storage-backed snapshot (the driver-dict
    # sink loses them — this is the scale-safety property)
    with open(os.path.join(src, "batch099.csv"), "w") as f:
        f.write(_csv_line("NEWBIRD1", 5) + "\n")
    h2 = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        deadline = time.time() + 60
        counts = {}
        while time.time() < deadline:
            counts = {r[0]: r[1] for r in h2.sink.query(
                "select flightId, track_count from Flights").collect()}
            if "NEWBIRD1" in counts:
                break
            time.sleep(0.5)
        assert counts.get("NEWBIRD1") == 1
        for f_ in FLIGHTS:
            assert counts.get(f_) == 2, f"{f_} lost across restart: {counts}"
    finally:
        h2.stop()


def test_streaming_matches_batch_operator(spark, sf_dir, tmp_path):
    """availableNow over events.parquet through the REAL stateful processor
    equals the batch track_snapshot operator row-for-row — and so does the
    state-store READER view (true stateSnapshots parity: all keys straight
    from the checkpointed RocksDB files, no sink involved)."""
    from stateful_spark_streaming_spark.operators import tracks as TR
    from stateful_spark_streaming_spark.sources.tables import load_table
    from stateful_spark_streaming_spark.streaming.state_reader import (
        state_snapshot_view,
        state_track_rows,
    )

    ckpt = str(tmp_path / "ckpt")
    got = run_snapshot_query(spark, os.path.join(sf_dir, "events.parquet"),
                             checkpoint_dir=ckpt)
    ev = load_table(spark, sf_dir, "events")
    want = TR.track_snapshot(ev, "user_id", "ts", "event_id", ["event_type", "value"])
    g = {r.user_id: r.asDict() for r in got.collect()}
    w = {r.user_id: r.asDict() for r in want.collect()}
    assert g == w

    # stateSnapshots() parity: the state-store reader sees the same table
    s = {r.user_id: r.asDict() for r in
         state_snapshot_view(spark, ckpt).collect()}
    assert s == w

    # and the full per-key track contents are queryable from state
    rows = state_track_rows(spark, ckpt)
    per_key = {r.user_id: r.cnt for r in
               rows.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert per_key == {k: v["track_count"] for k, v in w.items()}
    first = rows.filter("user_id = 1").orderBy("pos").collect()
    assert [r.ts_ms for r in first] == sorted(r.ts_ms for r in first), (
        "track rows come out in chronological order"
    )


def test_compact_then_restart_updates_existing_keys(spark, workdir):
    """Stop mid-stream → compact() → restart from the SAME checkpoint →
    feed MORE data for the EXISTING keys: the merged view must serve the
    new per-key rows over the compacted base (log rows carry later batch
    ids than the folded history), and the final counts must equal the
    batch-oracle expectation — the one recovery path the r2 suite left
    unexercised (VERDICT r2 next-round #8)."""
    src = str(workdir / "src")
    ckpt = str(workdir / "ckpt")
    _write_batch(src, 1, [0])
    _write_batch(src, 2, [1])
    h = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        _wait_batches(h.sink, 2)
    finally:
        h.stop()

    h.sink.compact()
    assert not os.path.exists(h.sink.log_dir)
    base = {r[0]: r[1] for r in h.sink.query(
        "select flightId, track_count from Flights").collect()}
    assert base == {f: 2 for f in FLIGHTS}

    # two more ticks for the SAME flights while "down", then restart
    _write_batch(src, 3, [2])
    _write_batch(src, 4, [3])
    h2 = flight_socket_pipeline(
        spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
    )
    try:
        deadline = time.time() + 60
        counts = {}
        while time.time() < deadline:
            counts = {r[0]: r[1] for r in h2.sink.query(
                "select flightId, track_count from Flights").collect()}
            if counts == {f: 4 for f in FLIGHTS}:
                break
            time.sleep(0.5)
        # batch oracle: 4 distinct ticks per flight -> track_count 4
        assert counts == {f: 4 for f in FLIGHTS}, (
            f"post-compact restart did not upsert existing keys: {counts}"
        )
    finally:
        h2.stop()
