"""How ``ParquetSnapshotSink`` writes its log and serves its view.

Each trigger's append is rebalanced under adaptive execution, so a small
batch lands as one Parquet file instead of one per state partition, and
Spark's AQE-off setting of the stream's session clone is back in place
before the stream plans its next trigger.  The view's read schema is
learned on the first read of a sink and passed on later reads, so a
registration starts no schema-inference job.

The flight lines and the expected view come from perfbench's seeded
generator and its pure-Python reference fold, as in
``test_state_commit.py``."""

from __future__ import annotations

import glob
import os

from stateful_spark_streaming_spark.streaming import pipeline as P
from tests.test_state_commit import FIRST, _land, _mismatches, _run, history  # noqa: F401

AQE = "spark.sql.adaptive.enabled"


class _AqeProbe(P.ParquetSnapshotSink):
    """Records the stream session's AQE setting after each append."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.aqe_after = []

    def __call__(self, batch_df, batch_id):
        super().__call__(batch_df, batch_id)
        self.aqe_after.append(batch_df.sparkSession.conf.get(AQE))


def test_stream_appends_one_file_per_batch_with_aqe_off_for_planning(
    spark, tmp_path, history, monkeypatch  # noqa: F811
):
    """A three-batch stream over 60 flights on four state partitions
    leaves one ``part-*.parquet`` per committed batch, its view equals
    the reference fold, and the stream's session reads AQE off after
    every append."""
    monkeypatch.setattr(P, "ParquetSnapshotSink", _AqeProbe)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _land(src, history, FIRST)
    sink = _run(spark, src, ckpt, len(FIRST))

    committed = sum(n.isdigit() for n in os.listdir(os.path.join(ckpt, "commits")))
    files = glob.glob(os.path.join(sink.log_dir, "part-*.parquet"))
    assert committed == len(FIRST) and len(files) == committed, (files, committed)
    assert sink.aqe_after == ["false"] * committed, sink.aqe_after
    assert not _mismatches(sink, history, FIRST)


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs started while ``fn`` runs, under the new job ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_registration_starts_no_spark_job(spark, tmp_path):
    """Once a sink has read its log, a later ``query()`` registers the
    view without a schema-inference job.  A new sink over the same path,
    as after a restart, infers the schema again and serves the same rows."""
    path = str(tmp_path / "snap")
    sink = P.ParquetSnapshotSink(spark, "SinkReadPin", "k", path=path)
    sink(spark.createDataFrame([(1, "a0"), (2, "b0")], ["k", "v"]), 0)
    sink(spark.createDataFrame([(2, "b1"), (3, "c1")], ["k", "v"]), 1)
    want = [(1, "a0"), (2, "b1"), (3, "c1")]

    def rows(s):
        return sorted((r.k, r.v) for r in s.query().collect())

    assert rows(sink) == want
    assert _jobs(spark, "second-registration", sink.query) == 0

    fresh = P.ParquetSnapshotSink(spark, "SinkReadPin", "k", path=path)
    assert _jobs(spark, "fresh-sink", fresh.query) >= 1
    assert rows(fresh) == want
