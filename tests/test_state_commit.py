"""How streaming state is committed, and restarts across commit settings.

``get_spark(streaming=True)`` commits RocksDB state through changelog
checkpointing and, for local masters, renames checkpoint files through the
``FileSystem`` API.  These tests pin that mechanism (a checkpoint holds
changelogs, not per-version snapshot zips, and the state-store reader
still sees every key) and show that a stream restarts exactly from a
checkpoint written under Spark's defaults, and the reverse.

The flight lines and the expected view come from perfbench's seeded
generator and its pure-Python reference fold."""

from __future__ import annotations

import glob
import os
import time

import pytest

from perfbench import gen
from stateful_spark_streaming_spark.streaming.pipeline import (
    FLIGHT_TRACK_CONFIG,
    _session_confs,
    file_flight_source,
    flight_socket_pipeline,
)
from stateful_spark_streaming_spark.streaming.state_reader import state_snapshot_view

CHANGELOG_CONF = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."
#: Spark's own defaults: a snapshot zip per commit, FileContext renames
SPARK_DEFAULTS = {
    CHANGELOG_CONF: "false",
    FILE_MANAGER_CONF: _MANAGERS + "FileContextBasedCheckpointFileManager",
}

FLIGHTS, FILES, LINES = 60, 6, 120
FIRST, SECOND = range(0, 3), range(3, 6)  # the files of each run


@pytest.fixture(scope="module")
def history() -> list[list[tuple]]:
    """Six files of 120 events over 60 flights, with resends and
    out-of-order reports.  Each flight gets ~12 reports, more than the
    10 a track keeps, so a view over half the files differs from the
    view over all of them."""
    return list(gen.history_files(5, FLIGHTS, FILES, LINES))


def _land(src: str, history, files: range) -> None:
    """Write ``files`` of the history into ``src`` as flight lines, mtimes
    one second apart in file order (the file source replays oldest first)."""
    os.makedirs(src, exist_ok=True)
    base = time.time() - 100
    for i in files:
        path = os.path.join(src, f"part{i:02d}.csv")
        with open(path, "w") as f:
            f.write("\n".join(gen.to_line(ev) for ev in history[i]) + "\n")
        os.utime(path, (base + i, base + i))


def _run(spark, src: str, ckpt: str, n_batches: int, confs: dict | None = None):
    """Run the flight pipeline on ``src`` until it committed ``n_batches``
    data batches, stop it and return its sink.  A batch's progress is
    posted after its commit-log entry, so the stop cannot fall between a
    sink write and its commit.  ``confs`` sit on the session only while
    the stream starts, so they hold for this run alone."""
    with _session_confs(spark, confs or {}):
        h = flight_socket_pipeline(
            spark, file_flight_source(spark, src), checkpoint_dir=ckpt, trigger_seconds=0.5
        )

    def committed() -> int:
        return sum(p.numInputRows > 0 for p in h.query.recentProgress)

    try:
        deadline = time.time() + 90
        while committed() < n_batches and time.time() < deadline:
            time.sleep(0.2)
        assert committed() >= n_batches, f"committed {committed()} batches"
    finally:
        h.stop()
    return h.sink


def _layout(ckpt: str) -> tuple[int, int]:
    """(changelog files, snapshot zips) in the checkpoint's state store."""
    state = os.path.join(ckpt, "state", "**")
    return tuple(
        len(glob.glob(os.path.join(state, pat), recursive=True)) for pat in ("*.changelog", "*.zip")
    )


def _mismatches(sink, history, files) -> list[str]:
    """Flights whose view row differs from the reference fold of ``files``."""
    fold = gen.ReferenceFold()
    for i in files:
        for ev in history[i]:
            fold.add(ev)
    rows = sink.query("select " + ", ".join(gen.VIEW_COLUMNS) + " from Flights").collect()
    return gen.compare_views(fold.view(), rows)


def test_session_commits_state_through_changelog_and_filesystem_renames(spark):
    assert spark.conf.get(CHANGELOG_CONF) == "true"
    assert spark.conf.get(FILE_MANAGER_CONF) == _MANAGERS + "FileSystemBasedCheckpointFileManager"


def test_checkpoint_holds_changelogs_and_reader_sees_every_key(spark, tmp_path, history):
    """A three-batch stream commits one changelog per state partition and
    version and no snapshot zip (maintenance snapshots come every
    ``minDeltasForSnapshot`` = 10 versions), and the state-store reader
    rebuilt from those changelogs equals the sink's view."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _land(src, history, FIRST)
    sink = _run(spark, src, ckpt, len(FIRST))

    changelogs, zips = _layout(ckpt)
    assert changelogs and not zips, (changelogs, zips)
    assert not _mismatches(sink, history, FIRST)

    cols = list(FLIGHT_TRACK_CONFIG.output_schema().fieldNames())
    want = sorted(map(tuple, sink.query().select(*cols).collect()))
    from_state = state_snapshot_view(spark, ckpt, FLIGHT_TRACK_CONFIG)
    got = sorted(map(tuple, from_state.select(*cols).collect()))
    assert len(want) == FLIGHTS and got == want


@pytest.mark.parametrize(
    "first, second",
    [(SPARK_DEFAULTS, None), (None, SPARK_DEFAULTS)],
    ids=["spark_defaults_then_session", "session_then_spark_defaults"],
)
def test_restart_across_commit_settings(spark, tmp_path, history, first, second):
    """Three files under one setting, stop, three more under the other:
    the view equals the reference fold over all six files.  Each run
    commits in its own format (zips under Spark's defaults, changelogs
    under the session's settings)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _land(src, history, FIRST)
    _run(spark, src, ckpt, len(FIRST), first)
    before = _layout(ckpt)
    assert (before[0] == 0) == (first is SPARK_DEFAULTS), before
    assert (before[1] == 0) == (first is None), before
    _land(src, history, SECOND)
    sink = _run(spark, src, ckpt, len(SECOND), second)
    grew = [a > b for a, b in zip(_layout(ckpt), before)]
    assert grew == [second is None, second is SPARK_DEFAULTS], (before, _layout(ckpt))
    assert not _mismatches(sink, history, [*FIRST, *SECOND])


def test_fresh_checkpoint_over_second_run_alone_mismatches(spark, tmp_path, history):
    """Negative control for the restart test: without the restored state
    the view is wrong, so equality there comes from the checkpoint."""
    src = str(tmp_path / "src")
    _land(src, history, SECOND)
    sink = _run(spark, src, str(tmp_path / "ckpt"), len(SECOND))
    assert len(_mismatches(sink, history, [*FIRST, *SECOND])) > FLIGHTS // 2
