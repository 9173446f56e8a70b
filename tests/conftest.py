from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from stateful_spark_streaming_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        streaming=True,
        extra_conf={"spark.sql.streaming.checkpointLocation.deleteOnStop": "true"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class ProgressLog(StreamingQueryListener):
    """Collects the ``StreamingQueryProgress`` records of every stream
    started while it is registered, one list of progress dicts (the
    record's JSON form) per run, in start order.  ``on_progress``, when
    set, is called with each progress event on the listener thread."""

    def __init__(self):
        self._cv = threading.Condition()
        self._runs: dict[str, list[dict]] = {}
        self._done: set[str] = set()
        self.on_progress = None

    def onQueryStarted(self, event):
        with self._cv:
            self._runs[str(event.runId)] = []

    def onQueryProgress(self, event):
        if self.on_progress is not None:
            self.on_progress(event.progress)
        with self._cv:
            run = self._runs.get(str(event.progress.runId))
            if run is not None:
                run.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._done.add(str(event.runId))
            self._cv.notify_all()

    def runs(self, timeout: float = 60.0) -> list[list[dict]]:
        """Every run's progress list, once all of them have terminated
        (progress events arrive asynchronously)."""
        with self._cv:
            assert self._cv.wait_for(
                lambda: set(self._runs) <= self._done, timeout
            ), "a stream started under the listener did not terminate"
            return list(self._runs.values())

    def last(self) -> list[dict]:
        return self.runs()[-1]


@pytest.fixture
def progress(spark):
    """Per-test ``ProgressLog`` registered on the session's streams."""
    log = ProgressLog()
    spark.streams.addListener(log)
    yield log
    spark.streams.removeListener(log)


def ref_interleave(a: int, b: int, bits: int = 10) -> int:
    """Reference Morton interleave (bit b of `a` at position 2b, of `b` at
    2b+1) — the ONE spec both layout tests assert against."""
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def land_batches(spark, tmp_path, name, batches, cols):
    """Stage one parquet file per intended micro-batch under
    tmp_path/name, mtimes spread so FileStreamSource replays them in
    order (ties on the mtime tick make replay order nondeterministic —
    see test_streaming_join_sessions).  THE shared batch-landing helper:
    new streaming-twin tests should use this instead of re-inlining the
    write-segment/copy/utime idiom."""
    import glob
    import os
    import shutil

    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, rows in enumerate(batches):
        seg = str(tmp_path / f"{name}_seg{i}")
        spark.createDataFrame(rows, list(cols)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))
    return src
