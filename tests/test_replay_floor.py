"""Streaming replay-floor optimizations — output-equivalence pins.

Three mechanisms cut the per-replay fixed cost; the pins below are their
evidence:

1. ``ParquetSnapshotSink`` registers its merge-on-read temp view ON READ
   (``query()``/``show``), not after every micro-batch — the per-trigger
   registration re-listed the log/base dirs and rebuilt the merged plan
   for no consumer (``test_snapshot_sink_registers_on_read_not_per_batch``,
   ``test_console_sink_still_registers_per_batch``).
2. ``_replay(skip_no_data=True)``: replays whose OUTPUT provably does not
   depend on the trailing no-data micro-batch (append dedup, INNER
   stream-stream joins) skip it; the eviction-only batch cost a full
   trigger cycle per replay.  Each pin runs the same feed once as the
   runner does and once with the harness forced to keep the no-data
   batch, asserts from the progress records that the second run really
   ran one more (empty) batch, and asserts identical rows
   (``test_streaming_dedup_output_identical_without_no_data_batch``,
   ``test_inner_event_pairs_output_identical_without_no_data_batch``);
   the outer join must keep the batch
   (``test_left_outer_event_pairs_keeps_no_data_batch``).
3. The bucketed-merge gate query self-sizes ``n_buckets`` from table
   bytes (``"auto"``); the scoped bucket-swap coverage it used to force
   with n_buckets=128 lives in
   test_merge.py::test_streaming_merge_bucketed_gate_shape_scoped_swap.

Every pin here is an EQUALITY pin: the optimized path's rows must be
byte-identical to the unoptimized path's on the same feed.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from stateful_spark_streaming_spark.streaming import pipeline as P
from tests.conftest import land_batches

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)


def _ev(eid, minute, uid, etype):
    return (eid, T0 + datetime.timedelta(minutes=minute), uid, etype, 1.0, "{}")


def test_snapshot_sink_registers_on_read_not_per_batch(spark, tmp_path):
    """__call__ must NOT register the temp view (2 dir listings + footer
    reads per trigger nobody consumes); query() registers on demand and
    always serves the newest batch's upsert."""
    from pyspark.sql.utils import AnalysisException

    from stateful_spark_streaming_spark.streaming.pipeline import (
        ParquetSnapshotSink,
    )

    view = "R15LazySnap"
    spark.catalog.dropTempView(view) if spark.catalog.tableExists(view) else None
    sink = ParquetSnapshotSink(spark, view, "k", path=str(tmp_path / "snap"))
    sink(spark.createDataFrame([(1, "a0")], ["k", "v"]), 0)
    assert not spark.catalog.tableExists(view), (
        "headless __call__ registered the view — the per-batch "
        "registration the r15 floor fix removed is back"
    )
    sink(spark.createDataFrame([(1, "a1"), (2, "b1")], ["k", "v"]), 1)
    got = sorted((r.k, r.v) for r in sink.query().collect())
    assert got == [(1, "a1"), (2, "b1")]
    # after an explicit read the view exists and serves the same rows
    assert spark.catalog.tableExists(view)
    via_sql = sorted((r.k, r.v) for r in spark.sql(f"select * from {view}").collect())
    assert via_sql == got


def test_console_sink_still_registers_per_batch(spark, tmp_path, capsys):
    """show=True is the one mid-stream consumer — it must keep seeing a
    fresh view every trigger."""
    from stateful_spark_streaming_spark.streaming.pipeline import (
        ParquetSnapshotSink,
    )

    sink = ParquetSnapshotSink(
        spark, "R15ConsoleSnap", "k", path=str(tmp_path / "snapc"), show=True
    )
    sink(spark.createDataFrame([(7, "x")], ["k", "v"]), 0)
    out = capsys.readouterr().out
    assert "========= R15ConsoleSnap" in out and "x" in out


def _keep_no_data_batch(monkeypatch):
    """Force every harness replay to run the trailing no-data batch."""
    real = P._replay
    monkeypatch.setattr(
        P, "_replay", lambda *a, **kw: real(*a, **{**kw, "skip_no_data": False})
    )


def _batches(runs):
    """(batch id, input rows) per micro-batch of one run's progress."""
    return [(p["batchId"], p["numInputRows"]) for p in runs]


def _dedup_feed(spark, tmp_path, name):
    return land_batches(
        spark,
        tmp_path,
        name,
        [
            [_ev(0, 0, 1, "a"), _ev(1, 0, 1, "b"), _ev(2, 0, 2, "a")],
            [_ev(3, 5, 1, "a"), _ev(4, 5, 3, "c")],
        ],
        EVENT_COLS,
    )


def test_streaming_dedup_output_identical_without_no_data_batch(
    spark, tmp_path, progress, monkeypatch
):
    """The no-data-batch skip is output-invariant for append-mode
    dropDuplicatesWithinWatermark: same feed, the runner's skip vs a run
    that really executes the trailing no-data batch → identical rows.
    (Retained rows are emitted in the data batch that first carries them;
    the trailing batch only evicts state.)"""
    src = _dedup_feed(spark, tmp_path, "ev_off")
    out_off = P.run_streaming_dedup(
        spark, src, checkpoint_dir=str(tmp_path / "ck_off"),
        max_files_per_trigger=1,
    )
    rows_off = sorted((r.user_id, r.event_type) for r in out_off.collect())
    batches_off = _batches(progress.last())

    _keep_no_data_batch(monkeypatch)
    src2 = _dedup_feed(spark, tmp_path, "ev_on")
    out_on = P.run_streaming_dedup(
        spark, src2, checkpoint_dir=str(tmp_path / "ck_on"),
        max_files_per_trigger=1,
    )
    rows_on = sorted((r.user_id, r.event_type) for r in out_on.collect())
    batches_on = _batches(progress.last())

    assert batches_off == [(0, 3), (1, 2)], "skip arm ran a no-data batch"
    assert batches_on == batches_off + [(2, 0)], (
        "the forced arm did not run the trailing no-data batch"
    )
    assert spark.conf.get(P._NO_DATA_CONF, None) is None, (
        "runner leaked its no-data-batch override into the session"
    )
    assert rows_off == rows_on == [(1, "a"), (1, "b"), (2, "a"), (3, "c")]


def _pairs_feed(spark, tmp_path, name):
    # two same-user events within tolerance in batch 1, a cross-batch
    # match in batch 2 (must traverse the state store), one lone event
    return land_batches(
        spark,
        tmp_path,
        name,
        [
            [_ev(10, 0, 1, "click"), _ev(11, 3, 1, "purchase"),
             _ev(12, 0, 2, "click")],
            [_ev(13, 6, 2, "purchase"), _ev(14, 0, 9, "click")],
        ],
        EVENT_COLS,
    )


def test_inner_event_pairs_output_identical_without_no_data_batch(
    spark, tmp_path, progress, monkeypatch
):
    """INNER stream-stream join: pairs are emitted in the data batch where
    the second side arrives — the trailing eviction batch adds nothing.
    Same feed, the runner's skip vs a run that really executes the
    no-data batch → identical pair sets, including the cross-batch
    match."""
    cols = ["user_id", "id_a", "id_b", "gap_ms"]
    src = _pairs_feed(spark, tmp_path, "pv_off")
    off = P.run_streaming_event_pairs(
        spark, src, checkpoint_dir=str(tmp_path / "pck_off"),
        max_files_per_trigger=1,
    )
    rows_off = sorted(tuple(r) for r in off.select(*cols).collect())
    batches_off = _batches(progress.last())

    _keep_no_data_batch(monkeypatch)
    src2 = _pairs_feed(spark, tmp_path, "pv_on")
    on = P.run_streaming_event_pairs(
        spark, src2, checkpoint_dir=str(tmp_path / "pck_on"),
        max_files_per_trigger=1,
    )
    rows_on = sorted(tuple(r) for r in on.select(*cols).collect())
    batches_on = _batches(progress.last())

    # both join sides read every file: 2 × rows per data batch
    assert batches_off == [(0, 6), (1, 4)], "skip arm ran a no-data batch"
    assert batches_on == batches_off + [(2, 0)], (
        "the forced arm did not run the trailing no-data batch"
    )
    assert rows_off == rows_on
    # the cross-batch pair (user 2: 12×13, 360 s apart) must be present —
    # proof the state store, not single-batch locality, produced the match
    assert (2, 12, 13, 360000) in set(rows_off)
    assert len(rows_off) == 2  # user 1 intra-batch + user 2 cross-batch


def test_left_outer_event_pairs_keeps_no_data_batch(spark, tmp_path):
    """The OUTER form's null-matched rows are emitted BY the no-data
    batch (watermark release) — the runner must NOT opt out there.  A
    left click with no purchase inside the released horizon must appear
    with null match columns."""
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_event_pairs_left,
    )

    # user 1 matches; user 9's click (minute 0) has no purchase.  The
    # global watermark is min over BOTH sides' max event time (delay 0s),
    # so batch 2 advances it to min(click 45, purchase 30) = minute 30 —
    # past ev22's release horizon ts_a + 600 s = minute 10.  The release
    # itself happens only in the trailing no-data batch (the data batch
    # ran under the previous watermark); user 8's click (minute 45, gap
    # 900 s > tolerance, horizon minute 55 > watermark) stays buffered.
    src = land_batches(
        spark,
        tmp_path,
        "pl",
        [
            [_ev(20, 0, 1, "click"), _ev(21, 3, 1, "purchase"),
             _ev(22, 0, 9, "click")],
            [_ev(23, 30, 8, "purchase"), _ev(24, 45, 8, "click")],
        ],
        EVENT_COLS,
    )
    out = run_streaming_event_pairs_left(
        spark, src, checkpoint_dir=str(tmp_path / "plck"),
        max_files_per_trigger=1,
    )
    rows = sorted(
        (r.user_id, r.id_a, r.id_b) for r in out.collect()
    )
    assert (9, 22, None) in set(rows), (
        "null-matched left row missing — the no-data batch was skipped "
        "on the outer join path"
    )
    assert (1, 20, 21) in set(rows)
