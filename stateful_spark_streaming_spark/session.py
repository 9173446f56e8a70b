"""SparkSession factory with scale-aware defaults.

The reference hard-codes ``local[4]`` and a 1 s micro-batch
(StreamWithStates.scala:198-199).  Here the session is configured for the
target execution model instead: AQE on (runtime re-planning, skew-join
handling), Arrow on (vectorized Python interop), explicit shuffle-partition
sizing, UTC session time zone (so timestamp semantics match the DuckDB
oracle), and the RocksDB state store for streaming state that must scale far
past executor memory.

Streaming sessions commit state through RocksDB changelog checkpointing:
each commit writes one small changelog file per state partition, and a
maintenance thread uploads a full snapshot every ``minDeltasForSnapshot``
versions.  Without it every commit copies the SST files and zips a
snapshot.  A restart loads the latest snapshot and replays the changelogs
after it, and it works from checkpoints written either way.

Sessions with a ``local`` master also rename checkpoint files through
Hadoop's ``FileSystem`` API (``FileSystemBasedCheckpointFileManager``)
instead of Spark's ``FileContext`` default.  Without native Hadoop
libraries, each ``FileContext`` rename on the local file system resolves
symlinks by starting a ``readlink`` subprocess.  On local disk
``FileSystem.rename`` is ``rename(2)``, which is atomic and overwrites the
target.  Cluster masters keep the ``FileContext`` manager because
``FileSystem.rename`` semantics differ by store: on HDFS it does not
overwrite an existing file.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _workers_find_package() -> bool:
    """Whether a local Python worker finds this package: the JVM starts
    workers in this process's working directory with its ``PYTHONPATH``."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    dirs = [os.getcwd(), *pythonpath, *site.getsitepackages()]
    return any(d and os.path.realpath(d) == root for d in dirs)


def get_spark(
    app_name: str = "stateful-spark-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are overridable so tests can run tiny (``local[4]``, 4 shuffle
    partitions) while bench/production use every core.  On a real cluster the
    ``master`` is supplied by spark-submit and left untouched here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small-dim broadcast: all TPC-H dims at test SF fit well under this.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan sizing for the 100 TB case: 128 MB splits keep ~800k tasks for
        # 100 TB — reasonable granularity for 1000 executors.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    local = master.startswith("local")
    if streaming:
        # RocksDB-backed state store: state spills to local disk instead of
        # executor heap — required once keyed state outgrows memory.  It
        # commits changelogs, not snapshots (see the module docstring).
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"
        )
        if local:
            # rename(2) without a readlink subprocess (see the module docstring)
            builder = builder.config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
    if local and _workers_find_package():
        # Workers import the installed pyspark, not Spark's archives: see pyworker.
        builder = builder.config(
            "spark.python.daemon.module", "stateful_spark_streaming_spark.pyworker"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
