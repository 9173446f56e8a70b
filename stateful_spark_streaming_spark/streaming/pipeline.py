"""Streaming pipelines: sources → track state → snapshot views + SQL.

Reproduces the reference's end-to-end graphs (SURVEY §3):
- socket text → CSV parse → keyed track state → per-batch snapshot temp view
  → arbitrary SQL → console (StreamWithStates.scala:190-260);
- the multiple-states variant: one source, N independent stateful branches
  (StatefulStreamingWithMultipleStates.scala:64-135);
- checkpoint/restart that actually works (the reference's raison d'être is
  demonstrating DStream recovery FAILING; Structured Streaming's offset +
  state checkpoints make restart a non-event — test_streaming asserts the
  positive outcome).

Snapshot-parity decision (SURVEY §7 risk #1, decided here):
``stateSnapshots()`` in the reference emits ALL keys every batch;
``applyInPandasWithState`` invokes only keys with new data.  We emit
per-key snapshot rows on update and maintain the full table in the SINK.

The sink is ``ParquetSnapshotSink``: foreachBatch APPENDS the batch's
updated-key rows — a distributed executor write, nothing touches the
driver — into a parquet upsert log stamped with the batch id.  The
append is rebalanced with AQE on in the stream's session clone for that
write only, so a small batch lands as one file per trigger (a read pays
per file) and a big one is still split.  The all-keys view is
merge-on-read (latest row per key by batch id), i.e. Delta/Iceberg MERGE
semantics expressed over plain parquet, read with a schema the sink
learns once; ``compact()`` folds the log into a base table to bound read
amplification.  Driver memory is O(1); the snapshot survives restarts
because the log lives next to the checkpoint.  The reference's console
display (``.show()``, StreamWithStates.scala:36-53) is ``show=True`` on
the same sink.

Replay harness contract: every ``run_*`` runner replays its source with
an availableNow trigger through ``_replay``.  Spark captures a stream's
SQL confs when ``start()`` clones the session, so the per-stream confs
(state-partition count, state-store provider, the no-data-batch skip) are
set on the caller's session only around ``start()``, under one module
lock, and restored before the await: a concurrent caller never inherits
them, and the runner's ``foreachBatch`` jobs see them through
``bdf.sparkSession``.  Directory ownership: a ``checkpoint_dir`` the
caller passes is the caller's, and the runner's outputs live next to it
(``<checkpoint_dir>_out`` etc.) for as long as the caller keeps them.
Without one, the harness makes the checkpoint under a per-process scratch
root and deletes it once the replay succeeds; outputs go to fresh dirs
under the same root (returned frames are lazy, so they must outlive the
call), and the root is removed at interpreter exit.

Staged-log contract: a runner whose ``foreachBatch`` appends per-batch
partials (vocab, LM counts, sketches, histograms, span index...) has one
``STAGED_SINK_COMPACTION`` spec per log, declaring each column's fold
class.  The sink appends through ``_append_partial`` (stamped with the
batch id unless the spec says otherwise); the runner recovers the log's
generation (``recover_generation(clean=False)``) before ``_replay``, so a
batch never appends beside a half-swapped compaction; and it reads only
through ``_read_partial_log``, the same ``_fold_partial_log`` that
``compact_partial_log`` rewrites the log with.  Replay dedupe, the
cross-batch fold and the KMV width check therefore live in one place,
and compaction cannot change what a runner reads.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from stateful_spark_streaming_spark.generations import (
    recover_generation,
    swap_generation,
)
from stateful_spark_streaming_spark.sources.flights import parse_flight_lines
from stateful_spark_streaming_spark.streaming.track_state import (
    TrackStateConfig,
    track_state_stream,
)


class ParquetSnapshotSink:
    """Scale-safe all-keys snapshot sink: append-only parquet upsert log +
    merge-on-read view + compaction.

    ``__call__`` (foreachBatch) appends the micro-batch's snapshot rows to
    ``<path>/log`` with the batch id — a distributed write; the driver never
    sees row data.  The write is a ``rebalance`` with AQE on for that write
    only: one file per trigger for small batches, still parallel for big
    ones.  ``query()`` serves SQL over the all-keys view: base ∪ log,
    keep the newest row per key (``row_number`` over batch id desc), read
    with the schema learned on the sink's first read.  At 100 TB of keys
    every piece stays distributed: the append is O(updated keys) per
    trigger, the merge is one shuffle on the key, and ``compact()`` (call
    it between triggers or from a maintenance job) rewrites base :=
    merged(base, log) so reads don't degrade as the log grows.

    Replay-safe: a crash between the append and the checkpoint commit makes
    Spark re-run the batch with the SAME batch id; the re-appended rows are
    byte-identical (the emit is a pure function of state), so the
    latest-per-key merge is unaffected.

    Reference semantics: stateSnapshots() emits ALL keys per batch
    (StreamWithStates.scala:74-77); here the full table is reconstructable
    at every batch boundary while each trigger writes only updated keys.
    """

    def __init__(
        self,
        spark: SparkSession,
        view_name: str,
        key: str,
        path: str,
        sql: str | None = None,
        show: bool = False,
    ):
        self.spark = spark
        self.view_name = view_name
        self.key = key
        self.path = path
        self.log_dir = os.path.join(path, "log")
        self.base_dir = os.path.join(path, "base")
        self.sql = sql or f"select * from {view_name}"  # Q1 default
        self.show = show
        self.batches_seen = 0
        # fixed by the stream's output schema; learned by ``_read_log``
        self._schema = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        # AQE coalesces the rebalance to one file for a small batch and
        # splits a big one.  Spark turns AQE off in a stream's session
        # clone, so turn it on there for this write only: the write plans
        # over the already-planned micro-batch, and the ``finally`` keeps
        # it off for the next trigger's planning.  Not ``_session_confs``:
        # ``_await_or_die`` holds its lock while it stops a query, so a
        # batch waiting on it would stall the stop.
        conf, aqe_key = batch_df.sparkSession.conf, "spark.sql.adaptive.enabled"
        aqe = conf.get(aqe_key)
        conf.set(aqe_key, "true")
        try:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .hint("rebalance")
                .write.mode("append")
                .parquet(self.log_dir)
            )
        finally:
            conf.set(aqe_key, aqe)
        self.batches_seen += 1
        # register per batch only when something READS the view mid-stream
        # (the show console path).  Registration re-lists both dirs and
        # re-reads their footers to rebuild the merged plan — ~2 driver
        # round-trips per trigger that no one consumes during a headless
        # replay; ``query()`` (and any direct reader) registers on demand,
        # so the view is never stale when actually read (guide §1.2: don't
        # compute things you throw away).
        if self.show:
            import datetime

            self._register()
            print(f"========= {self.view_name} {datetime.datetime.now()} =========")
            self.spark.sql(self.sql).show()

    def _read_log(self) -> DataFrame | None:
        """base ∪ log, or None if nothing has been written yet.  The first
        successful read infers the schema (one Spark job over a footer);
        later reads pass it.  A dir whose first write is still in flight
        holds only _temporary: before the schema is known it is skipped
        rather than failing inference, after it reads as empty."""
        from pyspark.errors import AnalysisException

        from stateful_spark_streaming_spark.generations import (
            recover_generation,
        )

        # a crash mid-compact leaves the base as .tmp/.old generations;
        # repair before reading so the snapshot never silently shrinks.
        # clean=False: a READ must never delete a concurrent compact's
        # in-progress .tmp (reads are side-effect-free beside a live dir)
        recover_generation(self.base_dir, clean=False)
        dfs = []
        for d in (self.base_dir, self.log_dir):
            if not os.path.exists(d):
                continue
            reader = self.spark.read
            if self._schema is not None:
                reader = reader.schema(self._schema)
            try:
                dfs.append(reader.parquet(d))
            except AnalysisException:
                continue
            self._schema = dfs[-1].schema
        if not dfs:
            return None
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other)
        return df

    def _merged(
        self, keep_batch_id: bool = False, as_of_batch: int | None = None
    ) -> DataFrame | None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = self._read_log()
        if df is None:
            return None
        if as_of_batch is not None:
            # time travel: the upsert log IS a version history — the
            # snapshot as of batch N is latest-per-key over rows ≤ N
            # (compact() folds history away; run it only when time-travel
            # reads older than the fold are no longer needed)
            df = df.filter(F.col("_batch_id") <= as_of_batch)
        w = Window.partitionBy(self.key).orderBy(F.col("_batch_id").desc())
        out = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        drop = ["_rn"] if keep_batch_id else ["_rn", "_batch_id"]
        return out.drop(*drop)

    def snapshot_as_of(self, batch_id: int) -> DataFrame:
        """Time-travel read: the all-keys snapshot as it stood after
        ``batch_id`` committed (Delta/Iceberg VERSION AS OF, over the
        plain-parquet upsert log)."""
        df = self._merged(as_of_batch=batch_id)
        return df if df is not None else self.spark.range(0)

    def _register(self) -> DataFrame | None:
        df = self._merged()
        if df is not None:
            df.createOrReplaceTempView(self.view_name)
        return df

    def query(self, sql: str | None = None) -> DataFrame:
        if self._register() is None:
            return self.spark.range(0)  # nothing snapshotted yet
        return self.spark.sql(sql or self.sql)

    def compact(self) -> None:
        """Fold the upsert log into the base table (base := merged(base, log)).
        Run between triggers / while the stream is stopped — the swap is
        not concurrent with an in-flight append.  Goes through
        ``generations`` (rename-only promotion + crash recovery): a kill
        mid-compact can no longer leave a half-deleted base that reads as
        a silently smaller snapshot.  A crash AFTER the swap but before
        the log removal is benign: the folded base rows and the
        still-present log rows are byte-identical per key+batch, and the
        latest-per-key merge collapses them."""
        import shutil

        from stateful_spark_streaming_spark.generations import (
            recover_generation,
            swap_generation,
        )

        recover_generation(self.base_dir)
        merged = self._merged(keep_batch_id=True)
        if merged is None:
            return
        merged.write.mode("overwrite").parquet(self.base_dir + ".tmp")
        swap_generation(self.base_dir)
        shutil.rmtree(self.log_dir, ignore_errors=True)
        self._register()


def _uncommitted_batch(checkpoint_dir: str) -> int | None:
    """Newest batch id present in a Structured Streaming checkpoint's
    ``offsets`` write-ahead log but absent from its ``commits`` log, or
    None when every started batch committed.  File names in both dirs ARE
    the batch ids (HDFSMetadataLog layout — public Spark on-disk format);
    ``.tmp``/dot files from in-flight metadata writes are skipped, and a
    checkpoint with no offsets yet (zero-batch stream) is trivially
    clean."""

    def ids(sub: str) -> set[int]:
        d = os.path.join(checkpoint_dir, sub)
        if not os.path.isdir(d):
            return set()
        out = set()
        for n in os.listdir(d):
            if n.startswith(".") or n.endswith(".tmp") or not n.isdigit():
                continue
            out.add(int(n))
        return out

    started, committed = ids("offsets"), ids("commits")
    pending = started - committed
    return max(pending) if pending else None


def _fold_partial_log(
    df: DataFrame,
    path: str,
    keys: list[str] | tuple[str, ...],
    sums: tuple[str, ...] = (),
    mins: tuple[str, ...] = (),
    maxs: tuple[str, ...] = (),
    hlls: tuple[str, ...] = (),
    kmvs: tuple[str, ...] = (),
    kmv_k: int = 256,
    batch_col: str | None = "_batch_id",
) -> DataFrame:
    """THE fold of a staged partial log (``df``, read from ``path``) —
    one row per ``keys``, the same columns back.  Both the runners' read
    paths (``_read_partial_log``) and ``compact_partial_log`` go through
    it, so a compacted generation reads exactly like the log it folded.

    1. replay dedupe: a crash between a batch's append and its checkpoint
       commit re-appends byte-identical rows under the same batch id, so
       when the log carries additive ``sums`` the rows first collapse to
       one per (keys, batch) (``max`` of each value column is the single
       true value).  Every other fold class is idempotent and absorbs
       replays itself; a log with no batch stamp is folded by DISTINCT.
    2. cross-batch fold per ``keys``: ``sums`` summed, ``mins``/``maxs``
       folded respectively (a column whose rows are FINAL per key, e.g.
       per-doc counts that live in one batch, goes in ``maxs``),
       ``hlls`` (DataSketches binaries) unioned, ``kmvs`` (bottom-k hash
       arrays) set-unioned and cut back to the ``kmv_k`` smallest.
    3. the folded row keeps the max batch id seen, so a compacted
       generation is one big committed batch to every later read.
    Every log column must be declared in keys/sums/mins/maxs/hlls/kmvs:
    an undeclared column is schema drift and raises instead of being
    silently dropped.  A KMV log's ``_kmv_k`` width stamp (NULL on rows
    written before the stamp existed) must match ``kmv_k``: bottom-k of a
    union of bottom-k' sketches is the global bottom-k only when k <= k',
    and the m < k exact-count branch is wrong either way."""
    from pyspark.sql import functions as F

    if kmvs and "_kmv_k" in df.columns:
        ks = {
            r[0]
            for r in df.select("_kmv_k").distinct().collect()
            if r[0] is not None
        }
        if ks and ks != {int(kmv_k)}:
            raise ValueError(
                f"staged KMV log {path} was written with k={sorted(ks)} "
                f"(its _kmv_k stamp), but this fold uses k={kmv_k} — re-read "
                "or compact with the writer's k (run_streaming_distinct_kmv"
                "(k=...), distinct_kmv_compaction_spec(k=...)); mixing "
                "widths silently corrupts the estimator"
            )
        # constant per log: carried through the fold (max ignores the
        # NULL stamps of legacy rows)
        maxs = (*maxs, "_kmv_k")
    value_cols = [*sums, *mins, *maxs, *hlls, *kmvs]
    declared = set(keys) | set(value_cols) | ({batch_col} if batch_col else set())
    if set(df.columns) != declared:
        raise ValueError(
            f"partial log at {path} has columns {sorted(df.columns)}, "
            f"declared {sorted(declared)} — refusing to drop data silently"
        )
    if batch_col is None:
        return df.distinct()
    per_batch = (
        df.groupBy(*keys, batch_col).agg(*[F.max(c).alias(c) for c in value_cols])
        if sums
        else df
    )
    return per_batch.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sums],
        *[F.min(c).alias(c) for c in mins],
        *[F.max(c).alias(c) for c in maxs],
        *[F.hll_union_agg(c, F.lit(False)).alias(c) for c in hlls],
        # bounded per key by n_batches * k longs inside one agg row
        *[
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(c)))),
                1,
                kmv_k,
            ).alias(c)
            for c in kmvs
        ],
        F.max(batch_col).alias(batch_col),
    ).select(*df.columns)


def compact_partial_log(
    spark: SparkSession,
    path: str,
    checkpoint_dir: str | None = None,
    **spec,
) -> None:
    """Rewrite the staged partial log at ``path`` as ONE generation
    folded by ``_fold_partial_log`` under ``spec`` (a
    ``STAGED_SINK_COMPACTION`` entry or a ``*_compaction_spec`` result)
    — without it an always-on ingest stream grows an append log forever
    and the read path degrades into a many-small-files scan (the 100 TB
    regression SCALE.md warns about).  The read result is identical
    before and after, because the reads apply the same fold.

    The swap goes through ``generations``: the folded generation is
    fully written to ``<path>.tmp`` (parquet ``_SUCCESS`` as the commit
    marker), promoted by renames only, with crash recovery on the next
    call — never a half-deleted live log.  Run it ONLY after the owning
    stream has terminated cleanly (these sinks are availableNow
    one-shots; for an always-on stream, between triggers): compacting
    between a crash and its restart would fold the uncommitted batch's
    rows and then see the replay re-append them — the (keys, batch)
    dedupe can no longer collapse the pair because the folded row
    carries the max stamp, and sums would double-count.  Pass the owning
    stream's ``checkpoint_dir`` to turn that contract into a guard: the
    checkpoint's write-ahead ``offsets`` log runs one entry ahead of
    ``commits`` exactly while a batch is in flight or died uncommitted,
    so compaction REFUSES when the newest offsets entry has no matching
    commit.

    A KMV log with rows that carry no ``_kmv_k`` stamp (written before
    the stamp) gets a width check instead: a sketch wider than the
    spec's ``kmv_k`` was written with a larger k, and rewriting it
    through the fold would narrow it for good.  A narrowing READ loses
    nothing (the log keeps the full sketch), so only compaction checks
    it.  The check misses the case where every batch is under the wrong
    k but their union is not; the stamp closes that for stamped rows."""
    from pyspark.sql import functions as F

    if checkpoint_dir is not None:
        pending = _uncommitted_batch(checkpoint_dir)
        if pending is not None:
            raise RuntimeError(
                f"refusing to compact {path}: checkpoint {checkpoint_dir} "
                f"has batch {pending} in its offsets log but not in its "
                "commits log — the stream is mid-batch or crashed "
                "uncommitted, and folding now would double-count that "
                "batch's rows when the restart replays it"
            )

    recover_generation(path)
    if not os.path.exists(path):
        return  # nothing staged yet — zero-batch streams have no log
    df = spark.read.parquet(path)
    kmvs, kmv_k = spec.get("kmvs", ()), spec.get("kmv_k", 256)
    if kmvs:
        legacy = df.filter(F.col("_kmv_k").isNull()) if "_kmv_k" in df.columns else df
        widest = legacy.select(
            *[F.max(F.size(F.col(c))).alias(c) for c in kmvs]
        ).first()
        for c in kmvs:
            if widest[c] is not None and widest[c] > kmv_k:
                raise ValueError(
                    f"partial log at {path} holds a {c} sketch of width "
                    f"{widest[c]} > kmv_k={kmv_k} — it was written with a "
                    "larger k; folding would narrow the sketch for good.  "
                    "Compact with distinct_kmv_compaction_spec(k=<writer's k>)."
                )
    _fold_partial_log(df, path, **spec).write.mode("overwrite").parquet(path + ".tmp")
    swap_generation(path)


def distinct_sketch_compaction_spec(key: str = "event_type") -> dict:
    """Spec of a ``run_streaming_distinct_stats`` log keyed on ``key``:
    HLL binaries fold by union, the row count is the additive half."""
    return dict(keys=[key], sums=("n_rows",), hlls=("sk",))


def distinct_kmv_compaction_spec(k: int = 256, key: str = "event_type") -> dict:
    """Spec of a ``run_streaming_distinct_kmv`` log keyed on ``key`` and
    written with sketch width ``k``: bottom-k hash arrays fold by
    set-union + re-bottom-k, which is only exact under the writer's k."""
    return dict(keys=[key], sums=("n_rows",), kmvs=("hs",), kmv_k=k)


def quality_hist_compaction_spec(group_col: str = "source") -> dict:
    """Spec of a ``run_streaming_quality_histogram`` log grouped on
    ``group_col``: bin counts are additive."""
    return dict(keys=[group_col, "bin"], sums=("n",))


def source_drift_compaction_spec(group_col: str = "source") -> dict:
    """Spec of a ``run_streaming_source_drift`` log grouped on
    ``group_col``: token counts are additive."""
    return dict(keys=[group_col, "token"], sums=("c",))


#: per-log fold specs — the declared identity/fold class of every column
#: each staged ``foreachBatch`` sink appends.  The runner reads its log
#: through ``_fold_partial_log`` under this spec, and
#: ``compact_partial_log(spark, path, **spec)`` rewrites the log under the
#: same one.  ``<ckpt>`` is the checkpoint_dir the run_streaming_* call
#: used.  Runners whose key or sketch width is an argument build their
#: spec with the ``*_compaction_spec`` function named here; the entry is
#: that spec at the runner's defaults.
STAGED_SINK_COMPACTION = {
    # run_streaming_vocab: <ckpt>_partials
    "vocab": dict(keys=["token"], sums=("term_count", "doc_freq")),
    # run_streaming_lm_logprob: <ckpt>_counts (per-doc rows are final —
    # one batch owns a doc — so the fold class is max-of-replays)
    "lm_bigram": dict(keys=["doc_id", "w1", "w2"], maxs=("c",)),
    # run_streaming_dup_spans: <ckpt>_index (pure identity rows)
    "span_index": dict(keys=["doc", "pos", "gh"]),
    # run_streaming_corpus_report: <ckpt>_stats and <ckpt>_fps
    "corpus_stats": dict(
        keys=["source"], sums=("n_docs", "total_tokens", "sum_q", "n_en")
    ),
    "corpus_fps": dict(keys=["fp", "source"], sums=("n",), mins=("min_doc",)),
    # run_streaming_dedup_minhash: <ckpt>_out (no batch stamp — admitted
    # ids only; replay dedupe IS the whole fold)
    "minhash_admitted": dict(keys=["doc_id"], batch_col=None),
    # run_streaming_distinct_stats: <ckpt>_sketches
    "distinct_sketch": distinct_sketch_compaction_spec(),
    # run_streaming_distinct_kmv: <ckpt>_sketches; the writer stamps its k
    # into the log (`_kmv_k`), so a mismatched fold or read fails loudly
    "distinct_kmv": distinct_kmv_compaction_spec(),
    # run_streaming_image_keep_best: <ckpt>_partials (n additive; the
    # lexicographic best = struct(gq, neg) folds by plain struct max) and
    # <ckpt>_nullids (per-id identity rows — no batch stamp, replay
    # dedupe IS the fold, like minhash_admitted)
    "image_kb_partials": dict(keys=["bits"], sums=("n",), maxs=("best",)),
    "image_kb_nullids": dict(keys=["image_id"], batch_col=None),
    # run_streaming_heavy_hitters: <ckpt>_counters (CMS counters are
    # additive) and <ckpt>_cands (identity rows)
    "cms_counters": dict(keys=["r", "b"], sums=("n",)),
    "cms_candidates": dict(keys=["token"]),
    # run_streaming_quality_histogram: <ckpt>_hist
    "quality_hist": quality_hist_compaction_spec(),
    # run_streaming_source_drift: <ckpt>_counts
    "source_token_counts": source_drift_compaction_spec(),
}


@dataclass
class StreamHandle:
    query: "pyspark.sql.streaming.StreamingQuery"  # noqa: F821
    sink: ParquetSnapshotSink

    def stop(self) -> None:
        """S9 graceful shutdown."""
        self.query.stop()


def socket_flight_source(spark: SparkSession, host: str = "localhost", port: int = 7777) -> DataFrame:
    """S1: the reference's TCP text source (Defaults.scala:9-10), parsed to
    typed flight features (S2/S3/S4)."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_flight_lines(raw, "value")


def file_flight_source(spark: SparkSession, path: str) -> DataFrame:
    """Production analog of S1: file source replay (one CSV per micro-batch
    with maxFilesPerTrigger=1 — the FlightSim_batch1..9.csv drip)."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(path)
    )
    return parse_flight_lines(raw, "value")


FLIGHT_TRACK_CONFIG = TrackStateConfig(
    key="flightId",
    ts="ts",
    arrival="arrival",
    value_cols=("longitude", "latitude", "origin", "destination", "aircraft", "altitude"),
    value_types=("double", "double", "string", "string", "string", "long"),
    max_per_track=10,
    key_type="string",
)


def flight_socket_pipeline(
    spark: SparkSession,
    source: DataFrame,
    checkpoint_dir: str,
    view_name: str = "Flights",
    cfg: TrackStateConfig = FLIGHT_TRACK_CONFIG,
    sql: str | None = None,
    trigger_seconds: float = 1.0,
    show: bool = False,
    snapshot_dir: str | None = None,
) -> StreamHandle:
    """The full reference graph: parse → key → state → snapshot view → SQL.

    Micro-batch default 1 s (T8, Duration(1000) parity); checkpointing is
    Structured Streaming's offset+state log (S7/S8) — resumable.

    The all-keys snapshot lives in a storage-backed upsert log next to the
    checkpoint (``snapshot_dir``, default ``<checkpoint_dir>_snapshot``),
    so it survives restarts and driver memory stays O(1); ``show=True``
    prints ``sql`` over it after every trigger (the reference's console)."""
    from pyspark.sql import functions as F

    # arrival tiebreak for equal-ts dedup: streaming sources expose no row
    # order (and monotonically_increasing_id is not allowed on streams), so
    # the "first arrival wins" contest among equal-timestamp rows uses a
    # stable content hash — deterministic across replays, which the
    # reference's physical arrival order is not.
    with_arrival = source.withColumn(
        "arrival", F.xxhash64(*[F.col(c) for c in source.columns if c != "geometry"])
    )
    snap = track_state_stream(with_arrival, cfg)
    sink = ParquetSnapshotSink(
        spark,
        view_name,
        cfg.key,
        path=snapshot_dir or f"{checkpoint_dir}_snapshot",
        sql=sql,
        show=show,
    )
    q = (
        snap.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
    return StreamHandle(query=q, sink=sink)


def multi_state_pipeline(
    spark: SparkSession,
    source: DataFrame,
    checkpoint_root: str,
    configs: dict[str, TrackStateConfig],
    trigger_seconds: float = 1.0,
) -> dict[str, StreamHandle]:
    """T6: N independent stateful branches over one source — each branch is
    its own streaming query with its own checkpoint + state store, exactly
    the two-views topology of StatefulStreamingWithMultipleStates."""
    handles = {}
    for name, cfg in configs.items():
        handles[name] = flight_socket_pipeline(
            spark,
            source,
            checkpoint_dir=f"{checkpoint_root}/{name}",
            view_name=name,
            cfg=cfg,
            trigger_seconds=trigger_seconds,
        )
    return handles


def run_snapshot_query(
    spark: SparkSession,
    events_path: str,
    cfg: TrackStateConfig | None = None,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Batch-equivalent streaming run: availableNow over a parquet path,
    returning the final all-keys snapshot as a DataFrame.

    This is the driver-facing 'streaming_track_snapshot' query: one trigger
    consumes the whole table through the REAL stateful processor, so its
    result must equal the batch track_snapshot operator (same oracle).

    ``state_partitions`` sizes the state-store shuffle (fixed at checkpoint
    creation).  Each state partition costs an Arrow python worker round per
    trigger, so size it to key volume: a handful of partitions for
    thousands of keys (measured 3× faster than 32 partitions for 1.5k
    keys), the session default for production key counts.  Each of those
    Python tasks also calls ``importlib.invalidate_caches()``, which under
    CPython 3.11 re-reads an archive's directory for every cached
    ``zipimporter``: ~18 per worker on Spark's ``pyspark.zip``, py4j zip
    and spark-core jar, a median 280 ms of CPU per task.  ``get_spark``'s
    local sessions start workers through ``pyworker``, which takes those
    archives off the path when the installed pyspark matches (~0.1 ms)."""
    from pyspark.sql import functions as F

    cfg = cfg or TrackStateConfig()
    stem = _output_stem(checkpoint_dir, "sss_snap_")
    stream_df = stream_events_source(spark, events_path)
    keyed = stream_df.withColumn("arrival", F.col(cfg.arrival))
    snap = track_state_stream(keyed, cfg)
    sink = ParquetSnapshotSink(
        spark, "StreamingTracks", cfg.key, path=f"{stem}_snapshot"
    )
    _replay(
        spark,
        snap.writeStream.outputMode("update").foreachBatch(sink),
        checkpoint_dir,
        state_partitions=state_partitions,
    )
    return sink.query()


def _await_or_die(spark: SparkSession, q, seconds: int = 300) -> None:
    """Await an availableNow replay, LOUDLY.  These replays finish in
    seconds; ``awaitTermination`` returning False means the stream HUNG —
    proceeding would serve a half-applied standing table as if the run
    completed (the silent-partial-result class).  Stop the query and
    raise instead; the checkpoint makes the next run resume exactly where
    the hung one stopped.

    The stop is synchronous but BOUNDED: Spark's default
    ``spark.sql.streaming.stopTimeout`` (0) waits INDEFINITELY for the
    micro-batch thread, so a batch that ignores interruption would turn
    ``q.stop()`` into a second silent hang inside the very helper that
    exists to raise loudly (ADVICE r10).  A temporary 10 s stopTimeout
    bounds the wait while still SIGNALING the stop and normally joining
    the thread — a fire-and-forget stop would abandon a live query that
    keeps committing generation swaps to its standing table behind the
    caller's back, which is the same half-applied hazard this helper
    exists to prevent.  Either way the TimeoutError is raised."""
    if not q.awaitTermination(seconds):
        with _session_confs(spark, {"spark.sql.streaming.stopTimeout": "10000"}):
            _swallow(q.stop)  # a stop timeout must not mask the raise
        raise TimeoutError(
            f"streaming query did not terminate within {seconds}s — "
            "refusing to serve a partially-applied result (the "
            "checkpoint resumes the replay on the next run)"
        )


def _swallow(fn) -> None:
    """Run ``fn`` ignoring exceptions — only for best-effort cleanup on a
    path that is already raising the real error."""
    try:
        fn()
    except Exception:  # noqa: BLE001 — cleanup must not mask the raise
        pass


_SHUFFLE_CONF = "spark.sql.shuffle.partitions"
_STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"
_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
#: streaming state-store provider aliases accepted by ``_replay``
_STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}

#: serializes every harness ``start()``: the per-stream confs sit on the
#: shared session for exactly that call, so no other start can clone them
_START_LOCK = threading.Lock()
_SCRATCH_LOCK = threading.Lock()
_scratch_root: str | None = None


@contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the shared session for the block, under
    ``_START_LOCK``, and restore the previous values after it."""
    with _START_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _scratch(prefix: str) -> str:
    """A fresh directory under this process's scratch root (made lazily,
    removed at interpreter exit or by ``_sweep_scratch``)."""
    global _scratch_root
    with _SCRATCH_LOCK:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="sss_replay_")
        return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


@atexit.register
def _sweep_scratch() -> None:
    """Remove the scratch root with every harness checkpoint and runner
    output in it; the next run makes a new root.  Frames returned by
    earlier default-dir runs can no longer be read afterwards."""
    global _scratch_root
    with _SCRATCH_LOCK:
        root, _scratch_root = _scratch_root, None
    if root is not None:
        shutil.rmtree(root, ignore_errors=True)


def _output_stem(checkpoint_dir: str | None, prefix: str) -> str:
    """Path stem for a runner's output dirs (``<stem>_out``,
    ``<stem>_snapshot``...): next to the caller's checkpoint when one is
    given, else inside a fresh scratch dir."""
    return checkpoint_dir or os.path.join(_scratch(prefix), "run")


def _replay(
    spark: SparkSession,
    writer,
    checkpoint_dir: str | None = None,
    *,
    state_partitions: int | None = None,
    state_store: str | None = None,
    skip_no_data: bool = False,
):
    """Run ``writer`` (a DataStreamWriter with its output mode and sink
    set) as an availableNow replay to completion and return the
    terminated StreamingQuery.

    - ``state_partitions`` sizes the stream's shuffles and state store
      (fixed at checkpoint creation); None keeps the session's setting.
    - ``state_store`` is a ``_STATE_STORE_PROVIDERS`` alias; None keeps
      the session's provider.
    - ``skip_no_data`` skips the trailing no-data micro-batch that only
      evicts expired state.  ONLY valid where that batch cannot EMIT:
      append-mode ``dropDuplicatesWithinWatermark`` and INNER
      stream-stream joins.  Never for outer joins (null-matched rows are
      emitted by it), append-mode aggregations/session windows (window
      finalization), or folds with timers.

    The confs apply to this stream only (see the module docstring).
    Without a ``checkpoint_dir`` the checkpoint is made under the scratch
    root and deleted once the replay succeeds."""
    confs = {}
    if state_partitions is not None:
        confs[_SHUFFLE_CONF] = str(state_partitions)
    if state_store is not None:
        confs[_STATE_STORE_CONF] = _STATE_STORE_PROVIDERS[state_store]
    if skip_no_data:
        confs[_NO_DATA_CONF] = "false"
    owned = checkpoint_dir is None
    if owned:
        checkpoint_dir = _scratch("sss_ckpt_")
    writer = writer.trigger(availableNow=True)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    with _session_confs(spark, confs):
        q = writer.start()
    _await_or_die(spark, q)
    if owned:
        shutil.rmtree(checkpoint_dir, ignore_errors=True)
    return q


def _stamp(part: DataFrame, batch_id: int, spec: dict) -> DataFrame:
    """``part`` with the batch-id stamp its log's ``spec`` declares."""
    from pyspark.sql import functions as F

    batch_col = spec.get("batch_col", "_batch_id")
    return part.withColumn(batch_col, F.lit(batch_id)) if batch_col else part


def _append_partial(part: DataFrame, path: str, batch_id: int, spec: dict) -> None:
    """Append micro-batch ``batch_id``'s partial to the staged log at
    ``path`` (the runner lays out its files before the call)."""
    _stamp(part, batch_id, spec).write.mode("append").parquet(path)


def _as_nullable(t):
    """Type ``t`` with every struct field and array element nullable —
    the schema parquet reads back for a frame written as ``t``."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType))
    return t


def _read_partial_log(
    spark: SparkSession, path: str, spec: dict, empty: DataFrame
) -> DataFrame:
    """The staged log at ``path`` folded by ``_fold_partial_log`` under
    ``spec``, batch stamp dropped.  ``empty`` is the runner's partial
    over an empty batch: a never-written log reads as that frame, typed
    as parquet would hand it back, through the same fold — so the result
    schema cannot depend on whether a batch ever fired.  A generation
    that a crashed compaction left half-swapped is recovered first
    (``clean=False``: a reader never deletes a writer's ``.tmp``)."""
    recover_generation(path, clean=False)
    if os.path.exists(path):
        log = spark.read.parquet(path)
    else:
        log = _stamp(spark.createDataFrame([], _as_nullable(empty.schema)), 0, spec)
    folded = _fold_partial_log(log, path, **spec)
    batch_col = spec.get("batch_col", "_batch_id")
    return folded.drop(batch_col) if batch_col else folded


def _stage_parquet_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Open a parquet path as a file-source STREAM: read the footer schema
    (file sources need an explicit one), symlink a single file into a temp
    dir (file sources need a directory), and apply the per-trigger file
    cap.  One definition for every streaming entry point — a staging fix
    (schema drift, deleted source) lands once.

    ``merge_schema=True`` (the schema-evolution feed): the stream schema
    is the UNION of every existing file's footer, so a feed whose later
    files carry new columns surfaces them from the start (earlier files'
    batches read NULL there).  Default off — the plain inference picks
    one footer, which is cheaper and right for homogeneous feeds."""
    raw_read = spark.read
    if merge_schema:
        raw_read = raw_read.option("mergeSchema", "true")
    raw_schema = raw_read.parquet(path).schema
    src_dir = path
    if os.path.isfile(path):
        src_dir = _scratch("sss_stream_src_")
        os.symlink(os.path.abspath(path), os.path.join(src_dir, "part-0.parquet"))
    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(src_dir)


def stream_events_source(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over an events parquet file/dir: explicit schema,
    nanos-as-long handling, single-file symlink into a source directory.
    ``max_files_per_trigger`` splits a multi-file replay into micro-batches
    (availableNow honors it)."""
    from pyspark.sql import functions as F

    # file source needs an explicit schema AND a directory; symlink the
    # single parquet file into a temp dir, and read the footer schema with
    # the nanos-as-long conf active, then rebuild a timestamp in-stream.
    # Like _load_events, normalize every way the nanos column can surface
    # (bigint / timestamp_ntz / timestamp) to a real UTC instant.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001
        pass
    stream_df = _stage_parquet_stream(spark, events_path, max_files_per_trigger)
    ts_type = dict(stream_df.dtypes).get("ts")
    if ts_type == "bigint":
        stream_df = stream_df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream_df = stream_df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros(timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ),
        )
    return stream_df


def run_streaming_dedup(
    spark: SparkSession,
    events_path: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    delay: str = "1 hour",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact deduplication — the streaming twin of
    ``dedup.exact_dedup``: ``dropDuplicatesWithinWatermark`` keeps the
    FIRST arrival per key and expires each key from state once the
    watermark passes its event time + ``delay``.  That bound is the whole
    point at scale: batch ``DISTINCT`` holds the full key set live, while
    here state is O(keys arriving within the delay window) no matter how
    long the stream runs.

    Output is append-mode — each retained row is emitted exactly once —
    so a plain distributed parquet append sink is exact (no upsert
    machinery, no driver-side state).  Only the dedup KEY columns are
    projected: which duplicate wins within a micro-batch is a shuffle
    race, so non-key payload columns would be nondeterministic.

    ``max_files_per_trigger`` splits the replay into multiple
    micro-batches (availableNow honors it), exercising cross-batch
    suppression through the state store rather than within one batch.
    """
    out_dir = _output_stem(checkpoint_dir, "sss_dedup_") + "_out"
    stream_df = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    deduped = (
        stream_df.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )
    # append-mode dedup emits each retained row in the data batch that
    # first carries it; the trailing no-data batch only evicts expired
    # key state (output-identical without it — see _replay)
    _replay(
        spark,
        deduped.writeStream.outputMode("append").format("parquet").option(
            "path", out_dir
        ),
        checkpoint_dir,
        state_partitions=state_partitions,
        skip_no_data=True,
    )
    return spark.read.parquet(out_dir)


class CompleteSnapshotSink(ParquetSnapshotSink):
    """Snapshot sink for COMPLETE-mode aggregations: every micro-batch
    emits the FULL result, so merge-on-read keeps only the newest batch's
    rows (older batches are entirely superseded) — no per-key upsert."""

    def _merged(
        self, keep_batch_id: bool = False, as_of_batch: int | None = None
    ):
        from pyspark.sql import functions as F

        df = self._read_log()
        if df is None:
            return None
        if as_of_batch is not None:
            # time travel over a complete-mode log: the snapshot as of
            # batch N is the FULL result of the newest batch ≤ N
            df = df.filter(F.col("_batch_id") <= as_of_batch)
        latest = df.agg(F.max("_batch_id").alias("m"))
        out = df.join(F.broadcast(latest), df["_batch_id"] == latest["m"], "inner").drop(
            "m"
        )
        return out if keep_batch_id else out.drop("_batch_id")


def run_streaming_session_windows(
    spark: SparkSession,
    events_path: str,
    key: str = "user_id",
    gap: str = "30 minutes",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming SESSION windows run to completion — the streaming twin of
    the batch ``session_windows`` operator (same oracle).  Session windows
    MERGE when a bridging event arrives, so Spark restricts streaming
    session aggregations to complete mode (whole result per trigger —
    merges can't leave stale rows) or append mode behind a watermark
    (sessions emit once finalized).  This replay uses COMPLETE mode +
    a latest-batch snapshot sink, which makes multi-batch ≡ single-pass ≡
    batch exactly; on an unbounded source use append + ``withWatermark``
    upstream, trading completeness of open sessions for bounded state."""
    from stateful_spark_streaming_spark.operators.windows import session_windows

    stem = _output_stem(checkpoint_dir, "sss_sess_")
    stream_df = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    sessions = session_windows(stream_df, key=key, gap=gap)
    sink = CompleteSnapshotSink(
        spark, "StreamingSessions", key, path=f"{stem}_snapshot"
    )
    _replay(
        spark,
        sessions.writeStream.outputMode("complete").foreachBatch(sink),
        checkpoint_dir,
        state_partitions=state_partitions,
    )
    return sink.query()


def run_streaming_session_windows_append(
    spark: SparkSession,
    events_path: str,
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """APPEND-mode watermarked streaming session windows — the bounded-state
    form that actually scales (VERDICT r3 "missing" #2): ``withWatermark``
    upstream of the session aggregation lets Spark FINALIZE a session once
    the watermark passes its end (last event + gap), emit it exactly once,
    and evict its state.  Complete mode re-emits the whole result every
    trigger and retains every session forever — a non-starter on an
    unbounded source; this variant's state holds only sessions the
    watermark hasn't closed yet.

    Exactness contract (and the oracle): emitted sessions are precisely
    the batch ``session_windows`` result restricted to sessions whose end
    < final watermark (max event time − ``watermark_delay``); sessions
    still open at end-of-input are withheld, not emitted partially.  The
    trailing no-data micro-batch (on by default) flushes everything the
    final watermark finalizes.  Append emits each session once, so a plain
    distributed parquet sink is exact — no snapshot merge needed."""
    from stateful_spark_streaming_spark.operators.windows import session_windows

    out_dir = _output_stem(checkpoint_dir, "sss_sessap_") + "_out"
    stream_df = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark_delay)
    sessions = session_windows(stream_df, key=key, gap=gap)
    _replay(
        spark,
        sessions.writeStream.outputMode("append").format("parquet").option(
            "path", out_dir
        ),
        checkpoint_dir,
        state_partitions=state_partitions,
    )
    return spark.read.parquet(out_dir)


def _band_claim_fold(key, pdfs, state):
    """Per-BUCKET stateful band claims (a bucket = a hash slice of band
    space; state = the bucket's claimed band set): per band, the minimum
    doc_id in the batch claims it if unclaimed; every other doc sharing
    the band — and the claimant itself when the band was claimed in an
    earlier batch — is flagged a near-dup candidate.  Min-doc tie-break
    makes the within-batch winner deterministic
    (dropDuplicatesWithinWatermark's arbitrary first-arrival would not
    be), which is what lets a DuckDB oracle reproduce the single-pass
    result exactly.

    Why buckets instead of keying state by band_hash directly: nearly
    every band is unique, so per-band grouping meant one Python function
    call (plus pandas frame setup) per 1-2 rows — ~37 k calls ≈ 5 s at
    sf0.1.  Bucketing caps the call count at the bucket count and lets
    one vectorized groupby handle the bucket's rows."""
    import pandas as pd

    rows = pd.concat(list(pdfs))
    claimed = set(state.get[0]) if state.exists else set()
    winners = rows.groupby("band_hash")["doc_id"].transform("min")
    is_dup = (rows["doc_id"] != winners) | rows["band_hash"].isin(claimed)
    state.update((list(claimed | set(rows["band_hash"].unique())),))
    yield pd.DataFrame({"doc_id": rows["doc_id"], "is_dup": is_dup})


def run_streaming_dedup_minhash(
    spark: SparkSession,
    documents_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
    state_store: str | None = "hdfs",
    n_state_buckets: int = 256,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup ingest — incremental MinHash+LSH (VERDICT r3
    "missing" #4, the one LLM-pipeline shape that had no streaming twin):
    each arriving document computes its 8 band hashes MAP-SIDE
    (``minhash_band_rows_mapinpandas``, the Arrow kernel — bit-identical
    to the batch operator and to the ``minhash_bands_mapside`` HOF form,
    which measured ~6× slower on this hot path), and
    a document is admitted iff it claims ALL its bands first; any band
    collision with an earlier document (this batch or any previous one)
    marks it a near-duplicate and suppresses it.  This is the standard
    incremental-corpus ingest filter: new data lands continuously, and a
    doc LSH-colliding with anything already ingested is dropped before it
    ever reaches the corpus.

    Mechanics: explode (doc_id, band_hash); one ``applyInPandasWithState``
    keyed on band_hash holds a claimed bit per band and flags collisions
    (min-doc_id tie-break within a batch — deterministic, so DuckDB can
    replay it); ``foreachBatch`` then reduces a doc's 8 flags batch-locally
    (a doc's band rows never split across batches) and appends admitted
    doc_ids to parquet.  Docs with < k tokens have no shingles: they get a
    per-doc sentinel band, so they always pass.

    Admission-on-collision is deliberately RECALL-first (any single band
    match suppresses — no Jaccard verification pass, unlike the batch
    ``minhash_lsh_pairs``): an ingest filter must never admit a true
    near-dup, and a false drop only costs one document.  Tune precision
    with the banding S-curve (fewer/wider bands → fewer false drops); the
    batch operator remains the verified-pairs source of truth.

    State is one bit per
    distinct band hash — at 100 TB put a TTL on it (ProcessingTimeTimeout)
    or periodically compact, mirroring how production ingest filters age
    out cold buckets; the claim registry is append-only, so batch
    re-bootstraps are exact.

    ``state_store='hdfs'`` (default): the claim state is one boolean per
    band hash — tiny values, put-heavy — where the in-memory/HDFS store
    measured ~1.6× faster than RocksDB (14.9 → 9.1 s at sf0.1); with
    ``state_partitions=None`` the session's shuffle parallelism is kept
    (9.1 → 7.1 s on local[32] vs pinning 8).  Pass ``'rocksdb'`` when the
    distinct-band cardinality outgrows executor memory.

    Returns the admitted documents' ids (column ``doc_id``)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BooleanType, StructField, StructType

    from stateful_spark_streaming_spark.operators.dedup import (
        minhash_band_rows_mapinpandas,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_mhdedup_") + "_out"
    if state_partitions is None:
        # match core count, NOT the session's shuffle setting: a plain
        # session defaults to 200 shuffle partitions, and each state
        # partition costs an Arrow worker round + a state-store instance
        # per trigger — 200 of them for one replay batch is pure overhead
        # (core-count measured fastest: 7.1 s vs 9.1 s at 8 on local[32])
        state_partitions = spark.sparkContext.defaultParallelism
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    # id type FROM THE INPUT, like the band kernel itself: string-id
    # corpora are legitimate, and a hardcoded LongType here would pass
    # the (generic) kernel then crash at the state fold's Arrow boundary
    id_type = stream.schema[id_col].dataType

    # numpy kernel, not the HOF fold: bit-identical bands (tested), but
    # the interpreted 32-way HOF fold measured 6.4 s vs 1.1 s for the
    # Arrow kernel at sf0.1 — on the ingest hot path that 6× matters.
    # Spread first: a single-file replay batch arrives as ONE input
    # partition, which would serialize the hashing into one task (the
    # streaming twin of batch dedup's _spread; at production rates the
    # source already has many splits and this is a near-no-op).
    items = minhash_band_rows_mapinpandas(
        stream.repartition(spark.sparkContext.defaultParallelism),
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
    )
    # bucket the band space: state call count is capped at
    # n_state_buckets instead of one call per distinct band.  At real
    # scale RAISE the bucket count so each bucket's claimed-set state
    # row stays bounded (buckets ~ corpus_bands / 10k keeps state rows
    # ~10k strings).
    from pyspark.sql.types import ArrayType, StringType

    bucketed = items.withColumn(
        "bucket",
        F.pmod(F.xxhash64("band_hash"), F.lit(n_state_buckets)).cast("int"),
    )
    flagged = bucketed.groupBy("bucket").applyInPandasWithState(
        _band_claim_fold,
        outputStructType=StructType(
            [
                StructField("doc_id", id_type),
                StructField("is_dup", BooleanType()),
            ]
        ),
        stateStructType=StructType(
            [StructField("claimed", ArrayType(StringType()))]
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    spec = STAGED_SINK_COMPACTION["minhash_admitted"]

    def _admitted(bdf: DataFrame) -> DataFrame:
        return (
            bdf.groupBy("doc_id")
            .agg(F.max(F.col("is_dup").cast("int")).alias("_d"))
            .filter(F.col("_d") == 0)
            .select("doc_id")
        )

    def _admit(bdf: DataFrame, batch_id: int) -> None:
        # id list is tiny relative to the corpus — don't spray 32
        # near-empty files per batch
        _append_partial(_admitted(bdf).coalesce(4), out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(
        spark,
        flagged.writeStream.foreachBatch(_admit).outputMode("update"),
        checkpoint_dir,
        state_partitions=state_partitions,
        state_store=state_store,
    )
    # each admitted doc belongs to exactly one batch, so the DISTINCT
    # fold restores exactly-once over replayed appends
    return _read_partial_log(
        spark, out_dir, spec, _admitted(spark.createDataFrame([], flagged.schema))
    )


def run_streaming_decontaminate(
    spark: SparkSession,
    documents_path: str,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    train_filter=None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming benchmark decontamination — the stream-static BROADCAST
    SEMI-JOIN shape: training documents arrive as a stream, the eval
    suite's distinct k-gram shingles are a STATIC broadcast side, and any
    stream doc sharing a shingle is flagged.  This is the ingest-time form
    of ``dedup.decontaminate`` (reference point: batch operator
    `operators/dedup.py`): eval suites are small and fixed, training data
    is the firehose — so the eval side broadcasts once and the stream
    never shuffles, the same asymmetry the batch operator exploits.

    Stateless join ⇒ no watermark, no state store; a doc's shingle rows
    all live in one micro-batch, so the per-doc distinct in foreachBatch
    is batch-local and exact.  Emits each contaminated doc id once
    (within a batch; across batches a doc appears in one file batch
    only).  Returns the contaminated ids (column ``doc_id``)."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.text import shingles

    out_dir = _output_stem(checkpoint_dir, "sss_decon_") + "_out"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    if train_filter is not None:
        stream = stream.filter(train_filter)

    ev_shingles = (
        eval_df.select(F.explode(shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )
    # stream side through the Arrow shingle-index kernel (identical distinct
    # set semantics, pytested; it spreads the single-file replay batch
    # itself) — the interpreted HOF chain was the stream's dominant cost
    from stateful_spark_streaming_spark.operators.dedup import _shingle_index

    hits = (
        _shingle_index(stream, text_col, id_col, k)
        .select(F.col("doc").alias("doc_id"), "shingle")
        .join(F.broadcast(ev_shingles), "shingle", "left_semi")
        .select("doc_id")
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.distinct().write.mode("append").parquet(out_dir)

    _replay(spark, hits.writeStream.foreachBatch(_sink), checkpoint_dir)
    if not os.path.exists(out_dir):
        # zero micro-batches (empty source / filter matched nothing):
        # typed empty result, not a PATH_NOT_FOUND crash
        from pyspark.sql.types import StructField, StructType

        return spark.createDataFrame(
            [], StructType([StructField("doc_id", stream.schema[id_col].dataType)])
        )
    # distinct-on-read = replay idempotency (see run_streaming_dedup_minhash)
    return spark.read.parquet(out_dir).distinct()


def run_streaming_vocab(
    spark: SparkSession,
    documents_path: str,
    top_n: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental corpus-vocabulary maintenance during ingest — the
    streaming twin of ``text.vocab_topk`` (same oracle).

    Shape: ADDITIVE PARTIAL AGGREGATES.  Spark disallows both distinct
    aggregates and chained aggregations in a no-watermark stream, so the
    (term_count, doc_freq) pair cannot be streaming state directly.
    Instead each micro-batch computes its exact per-token partials with
    ordinary batch aggregation in ``foreachBatch`` and APPENDS them; the
    final vocabulary is the merge-on-read SUM over partials.  Exact — not
    approximate — because a document's tokens all live in one micro-batch
    (file sources never split a row group across triggers), so per-batch
    doc_freq partials are disjoint and additive.  This is the standard
    production shape for ingest-time corpus statistics: partials are tiny
    (vocab-sized), the firehose is never shuffled twice, and compaction
    runs at any cadence via ``compact_partial_log`` (spec
    ``STAGED_SINK_COMPACTION['vocab']``; pytested read-identical).

    The top-N + rank is computed over the merged vocabulary exactly as the
    batch operator does (TakeOrderedAndProject + rank window over N rows).
    """
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.text import (
        _token_occurrences,
        vocab_rank,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_vocab_") + "_partials"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    spec = STAGED_SINK_COMPACTION["vocab"]

    def _partial(bdf: DataFrame) -> DataFrame:
        return (
            _token_occurrences(bdf, text_col, id_col)
            .groupBy("token", "doc_id")
            .agg(F.count("*").alias("c"))
            .groupBy("token")
            .agg(F.sum("c").alias("term_count"), F.count("*").alias("doc_freq"))
        )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        _append_partial(_partial(bdf), out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    merged = _read_partial_log(
        spark, out_dir, spec, _partial(spark.createDataFrame([], stream.schema))
    )
    return vocab_rank(merged, top_n)


def run_streaming_lm_logprob(
    spark: SparkSession,
    documents_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time bigram-LM scoring — the streaming twin of
    ``text.bigram_logprob``, sharing its oracle verbatim; this was the last
    batch-only LLM-pipeline family with an additive shape (VERDICT r5
    next-round #6).

    Shape: ADDITIVE PARTIAL COUNTS (the ``run_streaming_vocab`` pattern).
    A document's (doc, w1, w2, c) counts are FINAL the moment its batch
    commits — a doc never straddles micro-batches — and every
    corpus-level quantity the score needs (bigram vocabulary, history
    totals, the corpus total) is a plain SUM over those rows.  So the
    sink appends exactly the compact count frame the batch operator
    persists, and score-on-read derives the logprobs through the SHARED
    ``bigram_score_from_counts`` tail (one definition, can't desynchronize).
    This is also the batch operator's own 100 TB cache note made real:
    the staged parquet IS the (doc, w1, w2, c) frame "written to storage
    and read back" — corpus text is tokenized exactly once, at ingest.

    Replay idempotency: appends are batch-stamped; a replayed batch
    re-appends byte-identical rows (the per-doc count aggregate is
    deterministic and a doc belongs to exactly one batch), so the
    max-of-replays fold over the count keys restores exactly-once."""
    from stateful_spark_streaming_spark.operators.text import (
        bigram_occurrence_counts,
        bigram_score_from_counts,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_lm2_") + "_counts"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    spec = STAGED_SINK_COMPACTION["lm_bigram"]

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # REPARTITION, not coalesce (see run_streaming_dup_spans): keep
        # the tokenize/expand stage wide, move only compact count rows
        part = bigram_occurrence_counts(bdf, text_col, id_col).repartition(4)
        _append_partial(part, out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    empty = bigram_occurrence_counts(
        spark.createDataFrame([], stream.schema), text_col, id_col
    )
    return bigram_score_from_counts(_read_partial_log(spark, out_dir, spec, empty))


def run_streaming_distinct_stats(
    spark: SparkSession,
    events_path: str,
    key: str = "event_type",
    count_col: str = "user_id",
    lg_k: int = 12,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time cardinality tracking — the streaming twin of
    ``relational.distinct_sketch_stats``, and the reason that operator
    uses DataSketches HLL instead of ``approx_count_distinct``: the
    binary sketches are a PUBLIC mergeable type, so each micro-batch
    appends its per-key (count, sketch) partial and the read side unions
    them with ``hll_union_agg``.  Union is register-wise max —
    associative, commutative, idempotent — so the merged estimate is
    EXACTLY the single-pass batch estimate (pytested as equality, the
    strongest streaming ≡ batch claim a sketch can make), and the staged
    state per key is one 2^lg_k-register sketch regardless of input
    size.

    Replay idempotency: appends are batch-stamped and the per-batch
    partial is deterministic, so replays are byte-identical; the
    (key, batch) dedupe on read restores exactly-once — and even a
    missed duplicate would be absorbed by union idempotency for the
    sketch (only the additive row count strictly needs the dedupe)."""
    from pyspark.sql import functions as F

    out_dir = _output_stem(checkpoint_dir, "sss_hll_") + "_sketches"
    stream = _stage_parquet_stream(spark, events_path, max_files_per_trigger)
    spec = distinct_sketch_compaction_spec(key)

    def _partial(bdf: DataFrame) -> DataFrame:
        return bdf.groupBy(key).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.hll_sketch_agg(count_col, F.lit(lg_k)).alias("sk"),
        )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # partials are key-cardinality tiny
        _append_partial(_partial(bdf).coalesce(1), out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    folded = _read_partial_log(
        spark, out_dir, spec, _partial(spark.createDataFrame([], stream.schema))
    )
    return folded.select(
        key,
        "n_rows",
        F.hll_sketch_estimate("sk").cast("long").alias("approx_distinct"),
    )


def run_streaming_distinct_kmv(
    spark: SparkSession,
    events_path: str,
    key: str = "event_type",
    count_col: str = "user_id",
    k: int = 256,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time cardinality tracking via the bottom-k (KMV) sketch —
    the ORACLE-EXACT streaming twin of ``relational.distinct_kmv_stats``
    (the DataSketches-HLL runner above stays as the binary-sketch
    surface; this is the form the gate hash-checks).

    Each micro-batch appends its per-key (n_rows, sorted bottom-k hash
    ARRAY) partial — state per key is bounded by k longs regardless of
    batch size because the bottom-k is computed by the shared
    ``kmv_bottom_hashes`` two-level window, never a collect of the full
    distinct set.  The read side's fold dedupes replays per (key, batch),
    set-unions the arrays and keeps their bottom-k, and finalizes with
    the SAME estimator as the batch operator: bottom-k of
    a union of per-batch bottom-ks equals the global bottom-k (any
    globally-kept hash arrived in some batch and survived that batch's
    bottom-k), so streaming ≡ batch EXACTLY — equality, not tolerance.

    Replay idempotency: partials are batch-stamped and deterministic, so
    the (key, batch) dedupe restores exactly-once — and even a missed
    duplicate would be absorbed by set-union idempotency for the sketch
    (only the additive row count strictly needs the dedupe)."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.relational import (
        kmv_bottom_hashes,
        kmv_finalize,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_kmv_") + "_sketches"
    stream = _stage_parquet_stream(spark, events_path, max_files_per_trigger)
    spec = distinct_kmv_compaction_spec(k, key)

    def _partial(bdf: DataFrame) -> DataFrame:
        counts = bdf.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
        bottom = (
            kmv_bottom_hashes(bdf, key, count_col, k=k)
            .groupBy(key)
            .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        )
        # stamp the sketch width INTO the log: a fold or read under a
        # different k narrows/widens the sketch silently (the width
        # heuristic alone can't catch a narrowing fold when every
        # per-batch sketch happens to be under the wrong k — their
        # UNION can still exceed it; review r13)
        return counts.join(bottom, key, "left").withColumn("_kmv_k", F.lit(int(k)))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # partials are key-cardinality tiny
        _append_partial(_partial(bdf).coalesce(1), out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    # the fold leaves one row per key with hs = the bottom-k of the union
    folded = _read_partial_log(
        spark, out_dir, spec, _partial(spark.createDataFrame([], stream.schema))
    )
    bottom = folded.select(key, F.explode("hs").alias("h"))
    return kmv_finalize(bottom, folded.select(key, "n_rows"), key, k)


def run_streaming_image_keep_best(
    spark: SparkSession,
    images_path: str,
    checkpoint_dir: str | None = None,
    max_ham: int = 1,
    n_bands: int | None = None,
    grid: int = 8,
    max_files_per_trigger: int | None = None,
    max_cluster_frac: float | None = 0.5,
) -> DataFrame:
    """Ingest-time canonical IMAGE selection — the streaming twin of
    ``dedup.hamming_keep_best`` over an image-table stream (the
    multimodal family's first ingest runner).  Each micro-batch decodes
    its images ONCE (ahash kernel), then appends only per-distinct-hash
    MERGEABLE partials: ``n`` (member count, additive) and ``best`` =
    ``struct(gq, neg)`` with gq = scaled pixel-count quality and neg =
    −image_id — a lexicographic struct whose ``max`` fold IS the batch
    operator's (quality desc, id asc) winner rule, because max over
    per-batch (max gq, −min-achiever-id) pairs equals the global pair
    (achievers partition across batches; numeric ids required for the
    negation).  The read side dedupes replays, folds per hash, and runs
    the SAME graph tail (``keep_best_from_hash_summaries``) as batch —
    single-pass ingest ≡ batch exactly, pinned in pytest.

    Undecodable (NULL-blob) images can't be compared and land in a
    separate per-id sidecar log (they must surface individually as
    ``'unique'``; folding them under one NULL-hash key would merge
    them).  Both logs compact: ``STAGED_SINK_COMPACTION
    ['image_kb_partials'／'image_kb_nullids']``.

    State/shuffle shape at 100 TB: the partial log is distinct-hash-
    sized per batch (never image rows), blob bytes never cross a
    shuffle (the decode is map-only inside the batch), and the fold is
    a plain keyed aggregate — the same staged-sink story as the vocab /
    CMS / KMV runners.

    ``max_cluster_frac`` (default 0.5, r14 — VERDICT r13 #2): the
    percolation guard is ON by default here as in the batch catalog
    query — the r13 sf10 probe measured the 64-bit hash silently
    collapsing 98.5% of a 500 k corpus into one "representative", and
    an ingest pipeline should STOP there (raise, with the widen-the-
    hash escape in the message), not publish fiction.  Pass ``None``
    to opt out explicitly (audit/probe runs)."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators import multimodal as MM
    from stateful_spark_streaming_spark.operators.dedup import (
        keep_best_from_hash_summaries,
    )

    stem = _output_stem(checkpoint_dir, "sss_imgkb_")
    out_dir = stem + "_partials"
    null_dir = stem + "_nullids"
    nbits = grid * grid
    stream = _stage_parquet_stream(spark, images_path, max_files_per_trigger)

    spec = STAGED_SINK_COMPACTION["image_kb_partials"]
    null_spec = STAGED_SINK_COMPACTION["image_kb_nullids"]

    def _hashed(bdf: DataFrame) -> DataFrame:
        # coalesce NULL quality (NULL width/height) to -1 — the batch
        # operator's missing-quality rank.  Without it a hash group whose
        # members ALL have NULL quality gets gq NULL, the achiever filter
        # never matches, and the inner join drops the whole group from the
        # output (streaming would silently lose images batch retains).
        qbp = F.coalesce(
            F.round(
                F.col("width").cast("double") * F.col("height") * 10000
            ).cast("long"),
            F.lit(-1).cast("long"),
        )
        return MM.image_ahash(bdf, grid=grid).join(
            bdf.select("image_id", qbp.alias("__qbp")), "image_id"
        )

    def _partial(hashed: DataFrame) -> DataFrame:
        ok = hashed.filter(F.col("ahash_bits").isNotNull())
        grp = ok.groupBy(F.col("ahash_bits").alias("bits")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("__qbp").alias("__gq"),
        )
        gbest = (
            ok.join(
                grp.select(F.col("bits").alias("ahash_bits"), "__gq"),
                "ahash_bits",
            )
            .filter(F.col("__qbp") == F.col("__gq"))
            .groupBy(F.col("ahash_bits").alias("bits"))
            .agg(F.min("image_id").alias("__gid"))
        )
        return grp.join(gbest, "bits").select(
            "bits",
            "n",
            F.struct(
                F.col("__gq").alias("gq"),
                (-F.col("__gid")).alias("neg"),
            ).alias("best"),
        )

    def _nullids(hashed: DataFrame) -> DataFrame:
        return hashed.filter(F.col("ahash_bits").isNull()).select("image_id")

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # pin the decoded batch: grp, gbest, and the null tail all read it,
        # and its upstream is the per-image decode kernel
        hashed = _hashed(bdf).persist()
        # partials are distinct-hash tiny
        _append_partial(_partial(hashed).coalesce(1), out_dir, batch_id, spec)
        nulls = _nullids(hashed)
        if nulls.limit(1).count():
            _append_partial(nulls.coalesce(1), null_dir, batch_id, null_spec)
        hashed.unpersist()

    for d in (out_dir, null_dir):
        recover_generation(d, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)

    from stateful_spark_streaming_spark.caching import track_persist

    empty = _hashed(spark.createDataFrame([], stream.schema))
    # persisted for the same reason the batch operator pins its gsum
    # (dedup.py): keep_best_from_hash_summaries consumes the summary
    # frame from several sub-plans (edge generation, the cluster join,
    # winner selection) — unpinned, each consumer re-runs the staged-log
    # scan + replay-dedupe + fold.  Distinct-hash-sized.
    gsum = track_persist(
        _read_partial_log(spark, out_dir, spec, _partial(empty)).select(
            F.col("bits").alias("__bits"),
            F.col("n").alias("__n"),
            F.col("best.gq").alias("__gq"),
            (-F.col("best.neg")).alias("__gid"),
        )
    )
    winners = keep_best_from_hash_summaries(
        gsum, id_col="image_id", max_ham=max_ham, n_bands=n_bands, nbits=nbits,
        max_cluster_frac=max_cluster_frac,
    )
    nulls = _read_partial_log(spark, null_dir, null_spec, _nullids(empty)).select(
        "image_id",
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit("unique").alias("reason"),
    )
    return winners.unionByName(nulls)


def run_streaming_quality_histogram(
    spark: SparkSession,
    documents_path: str,
    group_col: str = "source",
    n_bins: int = 20,
    scale: int = 10_000,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time quality-score distribution tracking — the streaming
    twin of the ``quality_histogram`` catalog query (same oracle).

    Shape: ADDITIVE PARTIAL AGGREGATES, the ``run_streaming_vocab``
    pattern.  Each micro-batch scores its documents, bins them through
    the scaled-integer binner (``stats.scaled_bin`` — the whole point of
    a fixed-width histogram is that per-batch bin counts are exact and
    sum across batches), and appends batch-stamped ``(group, bin, n)``
    partials; the read side dedupes replays per ``(group, bin, batch)``,
    sums, and runs the SAME ``histogram_finalize`` tail as the batch
    operator, so streaming ≡ batch is exact row-for-row.  Staged state
    is ≤ ``groups × n_bins`` rows per batch regardless of document
    volume, and the log folds at any cadence via ``compact_partial_log``
    (spec ``quality_hist_compaction_spec(group_col)``)."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.stats import (
        histogram_finalize,
        scaled_bin,
    )
    from stateful_spark_streaming_spark.operators.text import quality_score

    out_dir = _output_stem(checkpoint_dir, "sss_qhist_") + "_hist"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    spec = quality_hist_compaction_spec(group_col)

    def _counts(bdf: DataFrame) -> DataFrame:
        return (
            quality_score(bdf, keep_cols=(group_col,))
            .select(
                group_col,
                scaled_bin(F.col("quality_score"), n_bins, scale).alias("bin"),
            )
            .groupBy(group_col, "bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # NULL bins drop AFTER the aggregate, from a persisted counts
        # frame (r14, same defect as batch fixed_width_histogram): the
        # old pre-agg filter was pushed below the projection and
        # re-derived the whole quality-score expression per row, 2× per
        # micro-batch.  The persist is summary-sized (≤ groups ×
        # (n_bins+1) rows) and released right after the write, so a
        # long-running stream never accumulates cache.
        counts = _counts(bdf).persist()
        try:
            part = counts.filter(F.col("bin").isNotNull()).coalesce(1)
            _append_partial(part, out_dir, batch_id, spec)
        finally:
            counts.unpersist()

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    merged = _read_partial_log(
        spark, out_dir, spec, _counts(spark.createDataFrame([], stream.schema))
    )
    return histogram_finalize(merged, n_bins, scale)


def run_streaming_source_drift(
    spark: SparkSession,
    documents_path: str,
    group_col: str = "source",
    scale: int = 100_000_000,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time distribution-drift tracking — streaming twin of
    ``stats.source_drift`` (same oracle).

    The (group, token, count) summary under the drift metric is ADDITIVE,
    so this is the ``run_streaming_vocab`` shape: each micro-batch appends
    batch-stamped per-batch token-count partials (vocabulary-sized, never
    document-sized), the read side dedupes replays per
    (group, token, batch), sums, and runs the SAME
    ``source_drift_from_counts`` tail — streaming ≡ batch exact, every
    basis point.  The log folds at any cadence via ``compact_partial_log``
    (spec ``source_drift_compaction_spec(group_col)``)."""
    from stateful_spark_streaming_spark.operators.stats import (
        source_drift_from_counts,
        unigram_source_counts,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_drift_") + "_counts"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)
    spec = source_drift_compaction_spec(group_col)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        part = unigram_source_counts(bdf, group_col=group_col).coalesce(1)
        _append_partial(part, out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    empty = unigram_source_counts(
        spark.createDataFrame([], stream.schema), group_col=group_col
    )
    merged = _read_partial_log(spark, out_dir, spec, empty)
    return source_drift_from_counts(merged, group_col, scale)


def run_streaming_heavy_hitters(
    spark: SparkSession,
    documents_path: str,
    k: int = 20,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Ingest-time heavy-hitter tracking — streaming twin of
    ``stats.heavy_hitters_cms`` (same oracle).

    The count-min counter table is the textbook streaming summary:
    per-batch counters are exact sums, addition is the merge, and the
    staged state is ≤ depth·width rows per batch regardless of token
    volume.  Each micro-batch appends batch-stamped counter partials
    plus its distinct-token candidate list; the read side dedupes
    replays per (r, b, batch), sums counters, unions candidates, and
    runs the SAME ``cms_topk`` tail as the batch operator — streaming ≡
    batch exactly.  Compaction specs
    ``STAGED_SINK_COMPACTION['cms_counters'/'cms_candidates']``."""
    from stateful_spark_streaming_spark.operators.stats import (
        cms_counters,
        cms_topk,
    )
    from stateful_spark_streaming_spark.operators.text import _token_occurrences

    stem = _output_stem(checkpoint_dir, "sss_cms_")
    ctr_dir = stem + "_counters"
    cand_dir = stem + "_cands"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)

    ctr_spec = STAGED_SINK_COMPACTION["cms_counters"]
    cand_spec = STAGED_SINK_COMPACTION["cms_candidates"]

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        occ = _token_occurrences(bdf, text_col, id_col)
        ctr = cms_counters(occ, "token", depth, width).coalesce(1)
        _append_partial(ctr, ctr_dir, batch_id, ctr_spec)
        cands = occ.select("token").distinct().coalesce(1)
        _append_partial(cands, cand_dir, batch_id, cand_spec)

    for d in (ctr_dir, cand_dir):
        recover_generation(d, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    occ = _token_occurrences(spark.createDataFrame([], stream.schema), text_col, id_col)
    counters = _read_partial_log(
        spark, ctr_dir, ctr_spec, cms_counters(occ, "token", depth, width)
    )
    cands = _read_partial_log(spark, cand_dir, cand_spec, occ.select("token"))
    return cms_topk(counters, cands, k, "token", depth, width)


def _change_feed_union_columns(spark: SparkSession, changes_path: str) -> set:
    """Union of every change file's footer column names (mergeSchema
    inference — footer metadata only, no data scan) for the stream-start
    wider-feed guards.

    Spark's footer-schema TYPE merge can itself fail when files carry the
    SAME column at different parquet types (even compatibly-widenable
    ones like int32 vs int64 raise 'Failed to merge fields') — a feed the
    old single-footer path tolerated by silently projecting through one
    footer.  Re-raise that as a diagnosis naming the heterogeneous feed
    (ADVICE r11) rather than a bare start-time stack: the guard exists to
    surface feed problems loudly, and a type-drifted writer IS one."""
    try:
        return set(
            spark.read.option("mergeSchema", "true")
            .parquet(changes_path)
            .schema.names
        )
    except Exception as e:  # Spark wraps the merge error variously
        low = str(e).lower()
        if "merge" in low and ("field" in low or "schema" in low or "type" in low):
            first = str(e).splitlines()[0]
            raise ValueError(
                f"change feed at {changes_path} carries the same column at "
                f"different parquet types across files — Spark cannot merge "
                f"the footer schemas ({first}).  The wider-feed stream-start "
                "guard needs one type per column: normalize the feed writer "
                "(cast before append) or rewrite the drifted files; a feed "
                "with type drift would otherwise corrupt or drop values "
                "depending on which footer the fixed stream schema came from."
            ) from e
        raise



def merge_bucket_count(
    n_bytes: int,
    target_bucket_bytes: int = 64 << 20,
    floor: int = 8,
    cap: int = 4096,
) -> int:
    """The bucketed-merge layout sizing rule (SCALE.md r12 guidance as
    code — the ``srp_plane_count`` move applied to the CDC layout):
    n_buckets = ceil(table_bytes / target_bucket_bytes), clamped.  The
    probe measured both failure directions at sf10: too FEW buckets
    approaches the full-image rewrite per batch; too MANY (1024 over a
    250 MB table) nearly doubled every marginal batch on small-file /
    listing / swap overhead.  64 MB per bucket keeps a touched bucket a
    few row groups — large enough to amortize the swap, small enough
    that one hot bucket's rewrite stays trivially cheap.  ``cap``
    bounds partition-directory count (and the scoped path's pruning
    structures) at table sizes where 64 MB/bucket would explode it —
    past the cap, buckets grow beyond the target instead, which only
    moves the scoped-rewrite constant."""
    import math

    if n_bytes <= 0:
        return floor
    return min(cap, max(floor, math.ceil(n_bytes / target_bucket_bytes)))


def run_streaming_merge_upsert(
    spark: SparkSession,
    base_path: str,
    changes_path: str,
    key_cols: tuple[str, ...],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    shuffle_partitions: int | None = 8,
    n_buckets: int | str | None = None,
    full_rewrite_frac: float = 0.5,
    max_pred_terms: int = 1000,
    schema_evolution: bool = False,
) -> DataFrame:
    """Incremental MERGE INTO — streaming twin of ``merge_upsert`` (same
    oracle): change batches stream in and fold into a generation-managed
    standing table; the final merged view is returned.

    ``schema_evolution=True`` turns on ADDITIVE evolution
    (``merge.evolve_schema``): a change batch may carry NEW data columns
    — the standing table widens, existing rows backfill NULL — and may
    omit existing ones (full-row-image contract: the change image gets
    NULL there).  A widening batch always takes the FULL-IMAGE swap even
    under ``n_buckets`` (untouched buckets would otherwise keep
    old-schema files that the fixed-schema read masks to NULL forever);
    subsequent same-schema batches return to the scoped path.  Type
    changes raise — that is an explicit migration, not a change batch.

    ``n_buckets`` (the 100 TB knob, default off; pass ``"auto"`` to
    SELF-SIZE from the base table's on-disk bytes via
    :func:`merge_bucket_count` — resolved once here and recorded in the
    layout marker, so later runs over the same base resolve identically;
    a re-bootstrapped/regrown base that resolves differently triggers
    the ordinary layout-migration rebuild): the table is laid out
    partitioned by ``__bucket = pmod(xxhash64(keys), n_buckets)`` and each
    batch rewrites ONLY the buckets its keys hash into — per-batch IO
    becomes O(table × touched/n_buckets) instead of O(table).  Bucket
    membership is a PURE function of the key, so the affected-bucket set
    derives from the batch alone (no table scan, no sidecar — a replayed
    batch recomputes it deterministically) and there is no moved-key
    hazard at all: a key's old row, its tombstone, and every future image
    land in the same bucket by construction.  Batches touching more than
    ``full_rewrite_frac`` of the buckets fall back to one full-image swap
    (same layout, crash protocol unchanged).  Size ``n_buckets`` so the
    expected changed-key count per batch ≪ n_buckets — that is the regime
    (big table, small feed) the layout exists for; at test SF the default
    keeps the simple single-image form the oracle gate measures.

    ``max_pred_terms`` (same bound as the MV runner's): the scoped path's
    touched-bucket filter is a literal IN list, which prunes the scan at
    the partition index but whose Catalyst tree grows with the batch's
    key spread — at production n_buckets a backfill-ish batch could pass
    ``full_rewrite_frac`` (a RELATIVE bound) with 10⁵ touched buckets.
    Past the cap the filter becomes a broadcast semi-join on the bucket
    id: static pruning is lost (one full table READ), but the WRITE and
    the swap stay scoped to the touched buckets — strictly cheaper than
    the full-image fallback, which pays both.

    Consistency story (the part a naive foreachBatch-MERGE gets wrong):
    - Each batch applies via ``merge_apply_batch``, whose per-row seq
      watermark makes application IDEMPOTENT and ORDER-CONVERGENT — the
      crash window between the generation swap and the checkpoint commit
      replays the batch against the already-merged table as a no-op, and
      out-of-order file pickup converges to the highest-seq image.
    - Deletes leave seq-bearing tombstones inside the table, so a
      replayed pre-delete upsert cannot resurrect a removed row; the
      returned view filters them.
    - Each new generation writes to ``<table>.tmp`` and promotes through
      ``swap_generation`` (crash-safe renames, _SUCCESS-gated), with
      ``recover_generation`` run on entry — the same protocol as the IVF
      index and compaction jobs.

    Scale: per batch, ONE max(struct) over the changes + ONE key
    equi-join against the standing table (AQE broadcasts the batch
    side).  The full-table rewrite per batch is the simple-and-correct
    form at test scale; the production refinement is partition-pruned
    rewrites (only files containing changed keys), which the z-order
    layout module's key clustering exists to make cheap.
    ``shuffle_partitions`` sizes the per-batch shuffles to change-batch
    volume (see ``run_streaming_incremental_agg``)."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.generations import (
        list_staged_partitions,
        recover_generation,
        recover_partitions,
        swap_generation,
        swap_partitions,
    )
    from stateful_spark_streaming_spark.operators.merge import (
        evolve_schema,
        merge_apply_batch,
        merged_view,
        with_merge_meta,
    )

    if n_buckets == "auto":
        # driver-side file listing only, no data scan; hidden/marker
        # files excluded so the size is the data bytes the rule is about
        n_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dirs, fs in os.walk(base_path)
            for f in fs
            if not f.startswith(("_", "."))
        )
        n_buckets = merge_bucket_count(n_bytes)
    elif isinstance(n_buckets, str):
        raise ValueError(f"n_buckets must be an int, None, or 'auto'; got {n_buckets!r}")

    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__bucket", F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), n_buckets)
        )

    stem = _output_stem(checkpoint_dir, "sss_merge_")
    table_dir = stem + "_table"
    staging_dir = stem + "_staging"
    recover_generation(table_dir, clean=True)
    # ALSO at run entry, not only per batch: a restart with NO new change
    # files never enters the sink, and a crash mid-partition-swap would
    # otherwise leave a bucket hidden (.old) from the final read — the
    # rows would silently vanish from the returned view (caught by test)
    recover_partitions(table_dir)

    def _write_layout(df: DataFrame) -> None:
        if n_buckets:
            _bucketed(df).repartition(F.col("__bucket")).write.partitionBy(
                "__bucket"
            ).parquet(table_dir + ".tmp")
        else:
            df.write.parquet(table_dir + ".tmp")
        swap_generation(table_dir)
        with open(table_dir + ".layout", "w") as fh:
            json.dump({"n_buckets": n_buckets}, fh)

    if not os.path.exists(table_dir):
        _write_layout(with_merge_meta(spark.read.parquet(base_path)))
    else:
        # A REUSED checkpoint whose _table was written under a different
        # layout (the pre-r9 unpartitioned form, or another n_buckets) is
        # otherwise undetected: the boot is skipped and swap_partitions
        # would add __bucket dirs beside root-level parquet files — a
        # mixed layout Spark rejects, or silently duplicated rows.
        # Detect via the layout sidecar (written since r10) with a
        # directory-shape fallback, and MIGRATE with one full-image
        # rewrite in the expected layout.
        marker = table_dir + ".layout"
        if os.path.exists(marker):
            with open(marker) as fh:
                stored = json.load(fh).get("n_buckets")
            mismatch = stored != n_buckets
        else:
            # pre-marker table: a bucketed dir shape cannot prove WHICH
            # n_buckets wrote it, so any bucketed expectation migrates
            # once (and stamps the marker); a root-file shape is provably
            # the single-image form
            bucketed_dirs = any(
                n.startswith("__bucket=") for n in os.listdir(table_dir)
            )
            mismatch = bucketed_dirs or n_buckets is not None
        if mismatch:
            cur0 = spark.read.parquet(table_dir)
            if "__bucket" in cur0.columns:
                cur0 = cur0.drop("__bucket")
            _write_layout(cur0)

    # fixed table schema for all later reads, exactly as the MV runner
    # does: skips per-read footer inference (a driver round trip per
    # read; measured negligible at test SF — the runner's fixed cost is
    # the 128-dir write-commit renames — but footers grow with real
    # column counts).  Partition discovery itself stays, it's just
    # listing.  The holder is mutable because schema evolution widens it
    # mid-stream (refreshed from the just-promoted generation, which a
    # widening batch always writes FULL-image, so the new footer schema
    # is authoritative).
    _schema_holder = {"schema": spark.read.parquet(table_dir).schema}

    def _read_table(session: SparkSession) -> DataFrame:
        return session.read.schema(_schema_holder["schema"]).parquet(table_dir)

    def _refresh_schema() -> None:
        _schema_holder["schema"] = spark.read.parquet(table_dir).schema

    if not schema_evolution:
        # Stream-START guard over the UNION of every change file's footer
        # (mergeSchema inference is footer-metadata only, no data scan).
        # The per-batch guard below cannot see a column only SOME files
        # carry — with merge_schema=False the stream's schema is fixed
        # from ONE footer, so a wider file's extra column is projected
        # away at the SCAN and never reaches the sink.  For availableNow
        # replays (every runner here) all files exist now, so this check
        # is complete; the per-batch guard remains as defense in depth.
        union_cols = _change_feed_union_columns(spark, changes_path)
        extra0 = union_cols - set(_schema_holder["schema"].names) - {seq_col, op_col}
        if extra0:
            raise ValueError(
                f"change feed carries column(s) {sorted(extra0)} absent from "
                "the maintained table and schema_evolution=False — they "
                "would be silently dropped by the fixed stream schema; pass "
                "schema_evolution=True to widen the table additively, or "
                "project the feed to the table's schema.  (Comparison is "
                "case-sensitive, matching evolve_schema's case-drift "
                "refusal.  A checkpoint-resumed feed whose ALREADY-processed "
                "files carry the column trips this too: those columns were "
                "silently dropped by the pre-guard code, which is the data "
                "loss this refusal exists to surface — schema_evolution=True "
                "widens the table and lets the feed proceed.)"
            )
    stream = _stage_parquet_stream(
        spark, changes_path, max_files_per_trigger, merge_schema=schema_evolution
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # batch jobs run on the stream's session, which carries the
        # shuffle sizing _replay scoped to this stream
        recover_generation(table_dir, clean=True)  # drop any stale .tmp
        recover_partitions(table_dir)
        cur = _read_table(bdf.sparkSession)
        batch_ready = bdf.withColumnRenamed(seq_col, "__seq")
        if schema_evolution:
            # replay-safe: an already-widened table sees no new columns
            # the second time around, so widened=False and the batch
            # takes whatever path its touch count dictates
            cur, batch_ready, widened = evolve_schema(
                cur, batch_ready, key_cols,
                seq_col="__seq", op_col=op_col, ignore_cols=("__bucket",),
            )
        else:
            # with evolution OFF, a feed that grew a column would be
            # SILENTLY dropped — merge_apply_batch projects data columns
            # from the TABLE's schema, so the new column never lands and
            # no error surfaces.  Same hazard class the MV runner refuses
            # loudly (run_streaming_incremental_agg below); the two
            # runners must agree (ADVICE r10).
            extra = set(batch_ready.columns) - set(cur.columns) - {"__seq", op_col}
            if extra:
                raise ValueError(
                    f"change batch carries column(s) {sorted(extra)} absent "
                    "from the maintained table and schema_evolution=False — "
                    "they would be silently dropped by the merge; pass "
                    "schema_evolution=True to widen the table additively, "
                    "or project the feed to the table's schema"
                )
            widened = False
        if not n_buckets:
            nxt = merge_apply_batch(
                cur, batch_ready, key_cols,
                seq_col="__seq", op_col=op_col, delete_op=delete_op,
            )
            nxt.write.parquet(table_dir + ".tmp")
            swap_generation(table_dir)
            if widened:
                _refresh_schema()
            return
        # bucket membership is key-pure: the affected set comes from the
        # batch alone — summary-sized collect, no table scan, no sidecar
        batch_ready = _bucketed(batch_ready)
        touched = sorted(
            r[0] for r in batch_ready.select("__bucket").distinct().collect()
        )
        if not touched:
            return
        if widened or len(touched) > full_rewrite_frac * n_buckets:
            # `widened` forces the full image: a scoped write would leave
            # untouched buckets' files on the old schema, and the fixed-
            # schema read would surface the new column as NULL for rows
            # that later re-merge — the one batch that widens pays O(table)
            nxt = merge_apply_batch(
                cur, batch_ready, key_cols,
                seq_col="__seq", op_col=op_col, delete_op=delete_op,
            )
            nxt.repartition(F.col("__bucket")).write.partitionBy(
                "__bucket"
            ).parquet(table_dir + ".tmp")
            swap_generation(table_dir)
            if widened:
                _refresh_schema()
            return
        if len(touched) <= max_pred_terms:
            cur_touched = cur.filter(F.col("__bucket").isin(touched))
        else:
            tdf = bdf.sparkSession.createDataFrame(
                [(int(b),) for b in touched], "__b long"
            )
            cur_touched = cur.join(
                F.broadcast(tdf), cur["__bucket"] == tdf["__b"], "left_semi"
            )
        nxt_touched = merge_apply_batch(
            cur_touched,
            batch_ready,
            key_cols,
            seq_col="__seq", op_col=op_col, delete_op=delete_op,
        )
        nxt_touched.repartition(F.col("__bucket")).write.mode(
            "overwrite"
        ).partitionBy("__bucket").parquet(staging_dir)
        swap_partitions(
            table_dir, staging_dir, list_staged_partitions(staging_dir, 1)
        )

    _replay(
        spark,
        stream.writeStream.foreachBatch(_sink).outputMode("update"),
        checkpoint_dir,
        state_partitions=shuffle_partitions,
    )
    out = merged_view(_read_table(spark))
    return out.drop("__bucket") if n_buckets else out


def run_streaming_incremental_agg(
    spark: SparkSession,
    base_path: str,
    changes_path: str,
    key_cols: tuple[str, ...],
    group_cols: tuple[str, ...],
    add_group,
    agg_fn,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    shuffle_partitions: int | None = 8,
    full_rewrite_frac: float = 0.5,
    groups_immutable: bool = False,
    max_pred_terms: int = 1000,
) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance: change batches stream in,
    fold into the generation-managed standing table (exactly
    ``run_streaming_merge_upsert``'s protocol), and per batch the
    maintained AGGREGATE refreshes only the groups that batch touched
    (``merge.affected_groups`` → ``merge.refresh_groups``) — the
    continuously-fresh dashboard table over a CDC feed, never a full
    re-aggregation per trigger.

    Crash story: the table swap and the aggregate swap are two renames,
    not one transaction.  The window between them is replay-safe because
    of TWO mechanisms together: (1) group CONTENTS recompute from the
    table, so re-refreshing an already-merged table re-derives the same
    rows; (2) the affected-group SET is frozen durably per batch in a
    sidecar written BEFORE the table swap — a group-moving update's old
    group is only visible in the pre-merge table, so recomputing the set
    on replay (after the swap) would miss the vacated group and leave
    its stale aggregate row alive (pytested: the group-move crash
    scenario).  ``add_group(df)`` derives the group columns on any row
    image; ``agg_fn(detail)`` is the caller's ONE aggregate definition,
    used for bootstrap and refresh alike.

    ``shuffle_partitions`` sizes the per-batch merge/refresh shuffles to
    the change-batch volume (the session default is sized for corpus
    scans; a CDC batch is orders of magnitude smaller — measured ~15%
    off the run at test SF, and fewer files per generation).

    Layout (r9, VERDICT r8 #4): the standing table is PARTITIONED BY the
    group columns and each batch rewrites ONLY the affected partitions
    (staged parquet job → per-partition hidden-rename swap,
    ``generations.swap_partitions``).  Per-batch IO is O(affected
    partitions), not O(table) — the full-image rewrite this replaces is
    the piece that could not survive a 100 TB maintained table.  Every
    crash point of the partial swap is repaired by
    ``recover_partitions`` on the next entry, after which the table is a
    consistent mix of pre/post-swap partitions that the seq-watermarked
    merge replays idempotently to convergence.  Deletes leave tombstones
    (the partition re-materializes in staging), but a group-MOVING update
    can leave an affected partition with NO surviving rows — those are
    detected (live affected files vs. staged dirs) and RETIRED through
    the same hidden-rename protocol, or the moved key would exist
    physically in both its old and new partitions forever.

    ADAPTIVE: when a batch touches more than ``full_rewrite_frac`` of
    the live partitions (a backfill, not an incremental feed), the sink
    falls back to ONE full-image generation swap — at that shape the
    partition-scoped path degenerates to a full rewrite PLUS a rename
    per partition, so the single swap strictly wins.  Both paths write
    the same partitioned layout, so readers and replays never see a
    layout flip.

    Scale accounting (measured, see SCALE.md): at sf0.1 the partitioned
    layout is ~128 KB/month — small-file tax makes this runner ~30 %
    slower than the full-image form it replaced; the crossover is
    table ≫ batch (sf1 probe), where per-batch IO O(affected) beats
    O(table) by the table/batch ratio and keeps growing with it.

    ``groups_immutable=True`` is the caller's DECLARATION that the group
    derivation is a pure function of key-immutable row attributes (a
    fact table partitioned by creation date — the overwhelmingly common
    MV shape).  Then a changed key's old row always lives in the same
    partition as its change image, so the affected set is just the
    batch's own groups: the per-batch FULL-TABLE key scan disappears
    (O(batch) instead of O(table) — the last per-batch table scan this
    runner had), and so does the durable sidecar, because the checkpoint
    replays the batch byte-identically and the set recomputes
    deterministically.  The detectable violation class — a matched old
    row whose group differs from its change image — raises before
    anything is written; the UNDETECTABLE class (a key re-entering under
    a different group while its old row sits in an unprobed partition)
    forks the key across partitions, which is exactly why this is an
    explicit opt-in declaration, never an inference."""
    from stateful_spark_streaming_spark.generations import (
        list_staged_partitions,
        recover_generation,
        recover_partitions,
        swap_generation,
        swap_partitions,
    )
    from stateful_spark_streaming_spark.operators.merge import (
        affected_groups,
        latest_changes,
        merge_apply_batch,
        merged_view,
        refresh_groups,
        with_merge_meta,
    )

    from pyspark.sql import functions as F

    groups = list(group_cols)
    stem = _output_stem(checkpoint_dir, "sss_incagg_")
    table_dir = stem + "_table"
    agg_dir = stem + "_agg"
    staging_dir = stem + "_staging"
    recover_generation(table_dir, clean=True)
    # entry-time partition recovery too: a restart with no new batches
    # never runs the sink, and a half-swapped partition would stay hidden
    # from every read this run serves (same class as the merge runner)
    recover_partitions(table_dir)
    recover_generation(agg_dir, clean=True)
    if not os.path.exists(table_dir):
        add_group(with_merge_meta(spark.read.parquet(base_path))).repartition(
            *[F.col(g) for g in groups]
        ).write.partitionBy(*groups).parquet(table_dir + ".tmp")
        swap_generation(table_dir)
    elif any(n.endswith(".parquet") for n in os.listdir(table_dir)):
        # a reused checkpoint whose _table was written by the pre-r9
        # UNPARTITIONED layout: swap_partitions would otherwise add group
        # dirs beside the root-level files — a mixed layout Spark rejects.
        # Migrate with one full-image partitioned rewrite (group cols are
        # ordinary data columns in the old layout, so the read is lossless).
        spark.read.parquet(table_dir).repartition(
            *[F.col(g) for g in groups]
        ).write.partitionBy(*groups).parquet(table_dir + ".tmp")
        swap_generation(table_dir)
    if not os.path.exists(agg_dir):
        # aggregate the PLAIN base read, not the just-written partitioned
        # table: identical rows (fresh meta has no tombstones), and the
        # few-big-files scan beats re-listing one-file-per-partition dirs
        agg_fn(add_group(spark.read.parquet(base_path))).write.parquet(
            agg_dir + ".tmp"
        )
        swap_generation(agg_dir)

    # fixed table schema for all later reads: skips per-read footer
    # inference (several driver round-trips per batch at one file per
    # partition); partition discovery itself stays, it's just listing
    tbl_schema = spark.read.parquet(table_dir).schema

    def _read_table(session: SparkSession) -> DataFrame:
        return session.read.schema(tbl_schema).parquet(table_dir)

    # stream-START guard over the UNION of all change-file footers — same
    # rationale as run_streaming_merge_upsert's: the per-batch guard in
    # _sink can only see columns the fixed stream schema (one footer)
    # happened to include, so a column carried by SOME files would be
    # projected away at the scan and silently dropped without this
    union_cols = _change_feed_union_columns(spark, changes_path)
    extra0 = union_cols - set(tbl_schema.names) - {seq_col, op_col}
    if extra0:
        raise ValueError(
            f"change feed carries column(s) {sorted(extra0)} absent from "
            "the maintained table — the MV runner does not evolve schemas "
            "(the aggregate's schema is agg_fn's contract); rebuild the MV, "
            "or maintain the table with "
            "run_streaming_merge_upsert(schema_evolution=True)"
        )

    stream = _stage_parquet_stream(spark, changes_path, max_files_per_trigger)

    def _affected_pred(rows):
        """Static partition-pruning predicate from the frozen affected
        set — collected driver-side (summary-sized BY CONSTRUCTION: at
        most 2×|batch| distinct group tuples), so the pruned scans carry
        PartitionFilters instead of relying on runtime DPP."""
        from functools import reduce

        def one(r):
            terms = [
                F.col(g).isNull() if r[g] is None else F.col(g) == F.lit(r[g])
                for g in groups
            ]
            return reduce(lambda a, b: a & b, terms)

        return reduce(lambda a, b: a | b, (one(r) for r in rows))

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # batch jobs run on the stream's session, which carries the
        # shuffle sizing _replay scoped to this stream
        ss = bdf.sparkSession
        recover_generation(table_dir, clean=True)
        recover_partitions(table_dir)
        recover_generation(agg_dir, clean=True)
        cur = _read_table(ss)
        # a feed that grew a column would otherwise be SILENTLY dropped:
        # merge_apply_batch projects data columns from the TABLE's schema,
        # so the new column never lands and no error surfaces.  The MV
        # runner has no evolution mode (the maintained aggregate's schema
        # is the caller's agg_fn contract) — refuse loudly instead.
        extra = set(bdf.columns) - set(tbl_schema.names) - {seq_col, op_col}
        if extra:
            raise ValueError(
                f"change batch carries column(s) {sorted(extra)} absent from "
                "the maintained table — the MV runner does not evolve "
                "schemas (the aggregate's schema is agg_fn's contract); "
                "rebuild the MV, or maintain the table with "
                "run_streaming_merge_upsert(schema_evolution=True)"
            )
        # The affected-group set is DURABLE per batch, written BEFORE the
        # table swap.  Why: a group-MOVING update's old group is derived
        # from the pre-merge table; after the table swap that information
        # is gone, so a crash in the table-swap→agg-swap window followed
        # by a replay would recompute `affected` from the already-merged
        # table, miss the vacated group, and leave its stale aggregate
        # row alive forever.  The sidecar (keyed by batch_id — replays
        # reuse the id) freezes the pre-swap answer: a torn sidecar
        # (no _SUCCESS) means the table swap can't have happened yet, so
        # recomputing fresh is correct.
        if groups_immutable:
            # declared: old group == new group for every changed key, so
            # the batch's own groups ARE the affected set — no table
            # scan, no sidecar (replay recomputes this deterministically
            # from the byte-identical replayed batch)
            affected = add_group(bdf).select(*groups).distinct()
        else:
            sidecar = os.path.join(
                stem + "_affected", f"batch={batch_id}"
            )
            if os.path.exists(os.path.join(sidecar, "_SUCCESS")):
                affected = ss.read.parquet(sidecar)
            else:
                # old_side over the RAW table (tombstones INCLUDED): a
                # re-inserted previously-deleted key must pull its
                # tombstone's partition into the merge input, or the
                # tombstone would survive while a second physical row for
                # the key appears in the new partition — forking the key
                # across partitions and double-emitting it from every
                # later merge's key join.
                affected_groups(
                    cur, add_group(bdf), key_cols, group_cols
                ).write.mode("overwrite").parquet(sidecar)
                affected = ss.read.parquet(sidecar)
        rows = affected.collect()
        if not rows:
            return  # empty change batch touches nothing
        if len(rows) <= max_pred_terms:
            pred = _affected_pred(rows)

            def aff_filter(df: DataFrame) -> DataFrame:
                return df.filter(pred)
        else:
            # past ~10^3 terms the OR-of-ANDs literal predicate would
            # blow up Catalyst planning before `full_rewrite_frac` (a
            # RELATIVE bound) ever trips on a high-cardinality group
            # column.  A broadcast semi-join on the group tuple replaces
            # it (null-safe per column, matching _affected_pred's NULL
            # semantics); static PartitionFilters are lost, but this
            # shape also forces the full-image swap below, which scans
            # the whole table anyway.
            def aff_filter(df: DataFrame, _a: DataFrame = affected) -> DataFrame:
                cond = None
                for g in groups:
                    t = df[g].eqNullSafe(_a[g])
                    cond = t if cond is None else cond & t
                return df.join(F.broadcast(_a), cond, "left_semi")
        if groups_immutable:
            # the detectable violation class: an old row we CAN see (its
            # partition is probed) whose group differs from its change
            # image — refuse before anything is written.  O(affected
            # partitions), consistent with this mode's cost budget.
            keys = list(key_cols)
            old_side = aff_filter(cur).select(
                *keys, *[F.col(g).alias(f"__old_{g}") for g in groups]
            )
            chg = add_group(bdf).select(*keys, *groups).distinct()
            same = None
            for g in groups:
                t = F.col(g).eqNullSafe(F.col(f"__old_{g}"))
                same = t if same is None else (same & t)
            if old_side.join(chg, keys).filter(~same).limit(1).count():
                raise ValueError(
                    "groups_immutable=True declared, but a change batch "
                    "moves a key to a different group — the affected set "
                    "would miss the vacated partition; use the default "
                    "(sidecar) mode for group-moving feeds"
                )
        n_live = len(list_staged_partitions(table_dir, len(groups)))
        batch_ready = add_group(bdf.withColumnRenamed(seq_col, "__seq"))
        if len(rows) > max_pred_terms or (
            n_live and len(rows) > full_rewrite_frac * n_live
        ):
            # backfill shape: most partitions touched — one full-image
            # swap beats per-partition renames at this fraction (or the
            # affected set exceeds the predicate-term cap: semi-join
            # filtering + one full swap, never a 10^4-term Catalyst tree)
            nxt = merge_apply_batch(
                latest_changes(cur, key_cols, seq_col="__seq"),
                batch_ready, key_cols,
                seq_col="__seq", op_col=op_col, delete_op=delete_op,
            )
            nxt.repartition(*[F.col(g) for g in groups]).write.partitionBy(
                *groups
            ).parquet(table_dir + ".tmp")
            swap_generation(table_dir)
        else:
            # merge only the affected partitions' rows with the batch;
            # the scan of `cur` prunes on the partition predicate.
            # Restricting the merge input is lossless: every changed
            # key's OLD row lives in an affected partition
            # (affected_groups includes old groups by construction, over
            # the raw table so tombstones count), and unchanged
            # partitions' files never move.  repartition by the group
            # cols first: one output file per affected partition instead
            # of shuffle_partitions × partitions tiny files.
            #
            # BEFORE the swap: record which live files the affected
            # partitions hold, from Spark's own layout (input_file_name)
            # — no re-implementation of Hive value escaping.  An affected
            # partition ABSENT from staging is one the batch left EMPTY
            # (a group-moving update vacated it; moves, unlike deletes,
            # write no tombstone into the old partition) — its live dir
            # must RETIRE, or the moved key exists physically in both
            # partitions and every later merge double-counts it.
            #
            # groups_immutable SKIPS this scan+collect outright: with no
            # group moves possible, no partition can be vacated — every
            # affected group is a group of some batch row, and the merge
            # output carries at least that batch row's image (deletes
            # leave tombstones), so staging always covers every affected
            # live dir and the retire set is empty BY CONSTRUCTION.  One
            # pruned scan + driver action per batch saved (guide §1.2),
            # consistent with this mode's O(batch) cost declaration.
            if groups_immutable:
                live_rels = set()
            else:
                from urllib.parse import unquote, urlparse

                tbl_abs = os.path.abspath(table_dir)
                live_rels = set()
                for (fname,) in (
                    cur.filter(pred).select(F.input_file_name()).distinct().collect()
                ):
                    p = unquote(urlparse(fname).path)
                    rel = os.path.relpath(os.path.dirname(p), tbl_abs)
                    if not rel.startswith(".."):
                        live_rels.add(rel)
            # COLLAPSE to one row per key (max __seq) before the merge:
            # a crash mid-partition-swap on a group-MOVING batch leaves
            # the table mixed — the moved key's OLD row (resurrected
            # retire, or a promote that crashed between two staged
            # partitions) coexists with its already-promoted NEW row.
            # merge_apply_batch assumes key-unique input; fed both rows,
            # its full-outer join emits the key TWICE (the old row takes
            # the change, the tied-seq new row keeps current), both land
            # in the new partition, and the duplicate is PERMANENT once
            # the replay commits (caught by test).  latest-wins over the
            # O(affected)-sized slice converges every mixed state — and
            # heals a table a pre-fix crash already poisoned.  Same wrap
            # on the full-image path above (its groupBy exchange is
            # reused by the key join).  The bucketed MERGE runner needs
            # none of this: bucket membership is key-pure, so a key's
            # old and new rows share one partition dir whose promote is
            # a single atomic rename — no mixed state can split a key.
            merge_apply_batch(
                latest_changes(cur.filter(pred), key_cols, seq_col="__seq"),
                batch_ready, key_cols,
                seq_col="__seq", op_col=op_col, delete_op=delete_op,
            ).repartition(*[F.col(g) for g in groups]).write.mode(
                "overwrite"
            ).partitionBy(*groups).parquet(staging_dir)
            staged = list_staged_partitions(staging_dir, len(groups))
            swap_partitions(
                table_dir,
                staging_dir,
                staged,
                retire=sorted(live_rels - set(staged)),
            )
        # refresh detail: re-read the JUST-PROMOTED affected partitions
        # from the table (pruned scan) instead of reusing a frame whose
        # lineage points at pre-swap files — persist() alone does not
        # guarantee cached blocks survive to the agg refresh, and a
        # post-swap recompute against retired files fails the batch.
        refresh_detail = aff_filter(merged_view(_read_table(ss)))
        # refresh with the PRE-swap affected set: together with the
        # durable sidecar this makes the two-swap window replay-safe for
        # every change class, including group moves
        cur_agg = ss.read.parquet(agg_dir)
        nxt_agg = refresh_groups(
            cur_agg, refresh_detail, affected, group_cols, agg_fn
        )
        nxt_agg.write.parquet(agg_dir + ".tmp")
        swap_generation(agg_dir)
        if not groups_immutable:
            # the sidecar has served its purpose once the agg swap
            # commits: a replay after BOTH swaps refreshes already-correct
            # rows from the already-merged table — idempotent whatever set
            # it uses — so deleting here bounds sidecar metadata to
            # in-flight batches (immutable mode never writes one)
            import shutil

            shutil.rmtree(sidecar, ignore_errors=True)

    _replay(
        spark,
        stream.writeStream.foreachBatch(_sink).outputMode("update"),
        checkpoint_dir,
        state_partitions=shuffle_partitions,
    )
    return spark.read.parquet(agg_dir)


def run_streaming_partitioned_ingest(
    spark: SparkSession,
    events_path: str,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Streaming ingest INTO the date-partitioned layout: each
    micro-batch appends under ``event_date=…/`` directories, so the
    table is partition-prunable THE MOMENT rows land — time-slice
    readers touch only the matching day directories while ingest keeps
    running (the layout `ensure_partitioned_dataset` builds offline,
    maintained online).

    Replay idempotency is the standard append-sink recipe: rows carry
    their batch id, and READERS de-duplicate by the natural key
    (``dropDuplicates('event_id')``) — a crash between a batch's append
    and its checkpoint commit re-appends byte-identical rows, which the
    key dedupe collapses.  Returns ``out_dir``."""
    from pyspark.sql import functions as F

    out_dir = out_dir or _output_stem(checkpoint_dir, "sss_ping_") + "_data"
    stream = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.withColumn("event_date", F.to_date("ts"))
            .withColumn("__batch_id", F.lit(batch_id))
            .repartition(F.col("event_date"))
            .write.partitionBy("event_date")
            .mode("append")
            .parquet(out_dir)
        )

    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    return out_dir


def run_streaming_corpus_report(
    spark: SparkSession,
    documents_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental per-source corpus data card during ingest — the
    streaming twin of ``text.corpus_report`` (same oracle), closing the
    data-card family's ingest story.

    Shape: ADDITIVE PARTIAL AGGREGATES, two staged frames.
    (1) Per-(source, batch) scalars — doc count, token sum, quality sum,
    English count — are plainly additive because the per-doc signals are
    map-only and a doc lives in exactly one batch.  (2) The exact-dup
    count is CROSS-BATCH evidence (a batch-2 doc duplicates a batch-1
    doc), so per batch the sink appends compact (content-fp, source,
    n, min_doc) partials; on read the corpus-wide min-doc per fp is
    derived and each (fp, source) group contributes ``n`` minus one iff
    it owns that minimum — exactly the batch operator's
    min-over-content-window semantics.  The fp partials are vocab-sized
    per batch (distinct contents, not docs), so the staged state stays
    compact and compaction runs at any cadence via ``compact_partial_log``
    (specs ``STAGED_SINK_COMPACTION['corpus_stats'/'corpus_fps']``).

    Replay idempotency: both appends are batch-stamped; replays re-append
    byte-identical rows (per-doc quality is deterministic and rounded
    before summing), collapsed by the per-(key, batch) dedupe on read."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.text import (
        normalize_text,
        quality_score,
    )

    stem = _output_stem(checkpoint_dir, "sss_creport_")
    stats_dir = stem + "_stats"
    fps_dir = stem + "_fps"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)

    stats_spec = STAGED_SINK_COMPACTION["corpus_stats"]
    fps_spec = STAGED_SINK_COMPACTION["corpus_fps"]

    def _docs(bdf: DataFrame) -> DataFrame:
        # normalize the id ONCE so both sinks honor a non-default id_col
        # (quality_score's projection is doc_id-fixed; ADVICE r5); drop
        # any unrelated pre-existing doc_id payload column first — the
        # rename would otherwise create an ambiguous duplicate name
        if id_col == "doc_id":
            return bdf
        if "doc_id" in bdf.columns:
            bdf = bdf.drop("doc_id")
        return bdf.withColumnRenamed(id_col, "doc_id")

    def _stats(b: DataFrame) -> DataFrame:
        scored = quality_score(
            b, text_col=text_col, keep_cols=("source", "lang")
        ).select("doc_id", "source", "lang", "n_tokens", "quality_score")
        return scored.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("quality_score").alias("sum_q"),
            F.sum((F.col("lang") == "en").cast("int")).alias("n_en"),
        )

    def _fps(b: DataFrame) -> DataFrame:
        return (
            b.select(
                F.col("doc_id"),
                F.col("source"),
                F.md5(normalize_text(F.col(text_col))).alias("fp"),
            )
            .groupBy("fp", "source")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
        )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        b = _docs(bdf)
        # partials are source-cardinality tiny
        _append_partial(_stats(b).coalesce(1), stats_dir, batch_id, stats_spec)
        _append_partial(_fps(b).coalesce(1), fps_dir, batch_id, fps_spec)

    for d in (stats_dir, fps_dir):
        recover_generation(d, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)

    empty = _docs(spark.createDataFrame([], stream.schema))
    stats = _read_partial_log(spark, stats_dir, stats_spec, _stats(empty))
    fps = _read_partial_log(spark, fps_dir, fps_spec, _fps(empty))
    gmin = fps.groupBy("fp").agg(F.min("min_doc").alias("gmin"))
    ndup = (
        fps.join(gmin, "fp")
        .select(
            "source",
            (
                F.col("n")
                - (F.col("min_doc") == F.col("gmin")).cast("long")
            ).alias("d"),
        )
        .groupBy("source")
        .agg(F.sum("d").alias("n_exact_dup"))
    )
    return stats.join(ndup, "source", "left").select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("sum_q") / F.col("n_docs"), 4).alias("avg_quality"),
        F.coalesce("n_exact_dup", F.lit(0)).alias("n_exact_dup"),
        "n_en",
    )


def run_streaming_dup_spans(
    spark: SparkSession,
    documents_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming span-level dedup ingest — the streaming twin of
    ``dedup.dup_ngram_spans`` (same oracle), closing the last LLM-pipeline
    family without one.

    Shape: ADDITIVE PARTIAL INDEX (the ``run_streaming_vocab`` pattern
    applied to the gram-position index).  A span is cross-doc evidence —
    it cannot be finalized until the whole corpus is seen — but the
    EXPENSIVE part (tokenize + k-gram extraction, the Arrow kernel) is
    per-doc and runs once per micro-batch at ingest; each batch APPENDS
    its (doc, pos, gram-hash) rows and the cheap cross-doc merge
    (count-distinct filter + gaps-and-islands, the shared
    ``dup_spans_from_index`` tail) is derived on read.  Exact because a
    doc's grams never straddle micro-batches.

    Gram identity is staged as ``xxhash64(gram)``, not the gram text —
    span math needs equality only, and at 100 TB the staged index is
    ~linear in corpus tokens, so 8-byte hashes vs ~5-word strings is the
    difference between an index that compacts and one that doesn't (the
    suffix-array literature this re-expresses — Lee et al. 2022 — hashes
    grams for the same reason; a 64-bit collision across a corpus would
    merge two unrelated spans, at odds ~n²/2⁶⁵).

    Replay idempotency: appends are stamped with the batch id; replayed
    batches re-append byte-identical rows (the kernel is deterministic and
    a doc belongs to exactly one batch), so distinct-on-read restores
    exactly-once."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.dedup import (
        _gram_positions,
        dup_spans_from_index,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_spans_") + "_index"
    stream = _stage_parquet_stream(spark, documents_path, max_files_per_trigger)

    spec = STAGED_SINK_COMPACTION["span_index"]

    def _partial(bdf: DataFrame) -> DataFrame:
        return _gram_positions(bdf, text_col, id_col, k).select(
            "doc", "pos", F.xxhash64("gram").alias("gh")
        )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # REPARTITION, not coalesce, to avoid spraying near-empty
        # files: coalesce would collapse the expensive gram kernel
        # above it into 4 tasks (no exchange between them), undoing
        # the _spread that keeps per-batch tokenization wide; the
        # exchange here moves only compact (id, int, long) rows
        _append_partial(_partial(bdf).repartition(4), out_dir, batch_id, spec)

    recover_generation(out_dir, clean=False)
    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    g = _read_partial_log(
        spark, out_dir, spec, _partial(spark.createDataFrame([], stream.schema))
    )
    return dup_spans_from_index(g, "gh", k, min_docs)


def run_streaming_ivf_topk(
    spark: SparkSession,
    queries_path: str,
    index_path: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Micro-batch ANN SERVING: a stream of query vectors probed against a
    PERSISTED IVF index — the online lifecycle (`ivf_build_or_load` at
    ingest time, probe-only at query time) driven by Structured Streaming.
    Each micro-batch runs the identical probe plan the batch
    ``cosine_topk_ivf`` query runs (centroid assignment map-side, cell
    equi-join against the cell-partitioned index, per-query top-k), so
    streaming ≡ batch exactly for the same query set — asserted by pytest.

    The top-k window is per-query and every query lives wholly inside its
    arrival batch, so running it inside ``foreachBatch`` is batch-local
    and exact — this is how rank-per-key logic (unsupported on unbounded
    streams without a watermark) is expressed in the serving shape.  At
    scale the index side is the big one (cell-partitioned parquet, probe
    prunes partitions at the scan) and the per-batch query side is small."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.similarity import (
        ivf_load_index,
        ivf_topk,
    )

    out_dir = _output_stem(checkpoint_dir, "sss_ivfq_") + "_out"
    index = ivf_load_index(spark, index_path)
    stream = _stage_parquet_stream(spark, queries_path, max_files_per_trigger)
    if query_filter is not None:
        stream = stream.filter(query_filter)

    # embeddings frame for the corpus side of ivf_topk: the index itself
    emb = index[0].drop("cell")

    def _probe(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        (
            ivf_topk(
                emb,
                bdf,
                k=k,
                nprobe=nprobe,
                id_col=id_col,
                vec_col=vec_col,
                index=index,
            )
            .coalesce(2)
            .write.mode("append")
            .parquet(out_dir)
        )

    _replay(spark, stream.writeStream.foreachBatch(_probe), checkpoint_dir)
    if not os.path.exists(out_dir):
        # every micro-batch was empty (e.g. a query_filter matching no
        # rows): nothing was ever appended — return the empty frame the
        # batch ANN twins return, not a PATH_NOT_FOUND crash
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cosine double"
        )
    # distinct-on-read = replay idempotency (see run_streaming_dedup_minhash);
    # a (query_id, rank) pair exists once, duplicates can only be replays
    return spark.read.parquet(out_dir).distinct()


def run_streaming_ivf_ingest(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Incremental ANN index maintenance at INGEST: new vectors arrive as
    a stream and are appended to the persisted cell-partitioned IVF index
    under frozen centroids (``similarity.ivf_append`` per micro-batch) —
    the missing half of the ANN lifecycle next to ``run_streaming_ivf_topk``
    (build once → APPEND continuously → probe continuously; retrain on a
    cadence, not per insert).  The index must already exist at
    ``index_path`` (bootstrap via ``ivf_build_or_load``).

    Returns the reloaded (assigned, centroids) with a per-id dedupe
    applied: a crash between a batch's append and its checkpoint commit
    re-appends byte-identical rows (frozen centroids ⇒ deterministic
    assignment), so id-distinct restores exactly-once for probing;
    ``ivf_retrain`` makes it physical on the retrain cadence (the cells
    parquet is cell-partitioned and unstamped, so the generic
    ``compact_partial_log`` does NOT apply to it — it would rewrite away
    the cell partitioning the probe path prunes on)."""
    import json

    from stateful_spark_streaming_spark.operators.similarity import (
        _ivf_assign_and_append,
        ivf_load_index,
    )

    from stateful_spark_streaming_spark.generations import recover_generation

    # a prior ivf_retrain crash mid-swap parks the index at .tmp/.old with
    # the live dir missing — roll it forward/back BEFORE the existence
    # check, exactly as ivf_load_index does (clean=False: an ingest entry
    # point is a reader of the index generation, and must never delete a
    # concurrent retrain's in-progress .tmp).  Without this, the error
    # below would tell the caller to re-bootstrap, silently discarding
    # previously streamed appends that recovery restores.
    recover_generation(index_path, clean=False)
    # precondition OUTSIDE the stream: a missing index must fail here as a
    # clear error, not as an exception buried inside a StreamingQuery
    sidecar = os.path.join(index_path, "centroids.json")
    if not os.path.exists(sidecar):
        raise FileNotFoundError(
            f"no IVF index at {index_path} (missing {sidecar}) — bootstrap "
            "with ivf_build_or_load before streaming appends into it"
        )
    # load centroids + stored schema ONCE; the per-batch sink is then
    # write-only (the old per-batch ivf_append reloaded the sidecar and
    # re-inferred the index schema every trigger only to discard them)
    with open(sidecar) as f:
        cents = json.load(f)
    stored_cols = list(
        spark.read.parquet(os.path.join(index_path, "cells")).columns
    )

    stream = _stage_parquet_stream(spark, vectors_path, max_files_per_trigger)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        _ivf_assign_and_append(
            bdf, index_path, cents, stored_cols, id_col, vec_col
        )

    _replay(spark, stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    assigned, cents = ivf_load_index(spark, index_path)
    return assigned.dropDuplicates([id_col]), cents


def run_streaming_event_pairs(
    spark: SparkSession,
    events_path: str,
    key: str = "user_id",
    tolerance_seconds: int = 600,
    watermark_delay: str = "1 hour",
    left_type: str | None = None,
    right_type: str | None = None,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    state_store: str | None = "hdfs",
    max_files_per_trigger: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM join: same-key event pairs within a time tolerance.
    ``how='left_outer'`` adds null-matched rows for left events released
    past the watermark horizon (see ``run_streaming_event_pairs_left``,
    the documented entry point for that form — same machinery, one flag).

    Both join inputs are independent streaming readers of the same source;
    the inner join carries an event-time range condition plus watermarks on
    both sides, which is exactly what lets Spark bound the join state: a
    buffered row can be dropped once the other side's watermark passes
    ts + tolerance.  Append mode — each matched pair is emitted exactly
    once — so a plain distributed parquet sink is exact.  At 100 TB this
    is the shape for correlating two event firehoses (impressions×clicks)
    without ever materializing either.

    ``left_type``/``right_type`` filter each side by event_type BEFORE the
    stateful operator (two distinct streams, e.g. clicks×purchases) — the
    canonical form, and the filters cut join state proportionally.  With
    both None the join is the all-pairs self form deduped by id order —
    the streaming twin of the batch ``range_join_pairs`` (same oracle), at
    ~the square of the per-key row count in state updates.

    ``state_store='hdfs'`` (default) uses the in-memory/HDFS store: join
    state here is watermark-bounded and modest, and the HDFS store's put
    path measures ~2× faster than RocksDB's.  Pass ``'rocksdb'`` (or None
    to inherit the session) when the tolerance×rate product makes buffered
    state bigger than executor memory."""
    from pyspark.sql import functions as F

    out_dir = _output_stem(checkpoint_dir, "sss_ssj_") + "_out"
    a = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    if left_type is not None:
        a = a.filter(F.col("event_type") == left_type)
    a = a.select(
        F.col(key).alias("user_id"),
        F.col("event_id").alias("id_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", watermark_delay)
    b = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    if right_type is not None:
        b = b.filter(F.col("event_type") == right_type)
    b = b.select(
        F.col(key).alias("user_id_b"),
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", watermark_delay)
    tol = F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
    cond = (
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") >= F.col("ts_a") - tol)
        & (F.col("ts_b") <= F.col("ts_a") + tol)
    )
    if left_type is None and right_type is None:
        cond = cond & (F.col("id_a") < F.col("id_b"))
    gap = F.abs(F.unix_millis("ts_a") - F.unix_millis("ts_b"))
    if how != "inner":  # outer rows carry NULL match columns
        gap = F.when(F.col("id_b").isNotNull(), gap)
    pairs = a.join(b, cond, how).select(
        "user_id", "id_a", "id_b", gap.alias("gap_ms")
    )
    # INNER joins emit every pair in the data batch where its second
    # side arrives — the trailing no-data batch only evicts buffered
    # state (output-identical without it; measured ~0.9 s of a ~2.5 s
    # bounded replay).  OUTER joins EMIT null-matched rows from that
    # batch when the watermark passes their horizon — they keep it.
    _replay(
        spark,
        pairs.writeStream.outputMode("append").format("parquet").option(
            "path", out_dir
        ),
        checkpoint_dir,
        state_partitions=state_partitions,
        state_store=state_store,
        skip_no_data=how == "inner",
    )
    return spark.read.parquet(out_dir)


def run_streaming_event_pairs_left(
    spark: SparkSession,
    events_path: str,
    key: str = "user_id",
    tolerance_seconds: int = 600,
    watermark_delay: str = "0 seconds",
    left_type: str = "click",
    right_type: str = "purchase",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    state_store: str | None = "hdfs",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """LEFT OUTER stream-stream join: every left event pairs with the
    same-key right events inside the tolerance band, and a left event
    with NO match is emitted exactly once with nulls — but only after the
    watermark proves no future right row can still match it.

    The semantics the oracle must encode (pinned empirically and by the
    docs): an unmatched left row is released when the GLOBAL watermark —
    min over both sides' (max event time − delay), since Spark tracks one
    watermark per query under the default ``min`` policy — passes
    ``ts_a + tolerance``.  Rows younger than that horizon stay buffered
    at stream end and are NOT emitted (they could still match if the
    stream resumed); the oracle applies the same horizon filter, making
    the outer join's partial-emission behavior itself the verified
    contract rather than an accident.

    Same machinery as ``run_streaming_event_pairs`` — this entry point is
    that function with ``how='left_outer'`` (one flag, not a fork):
    watermarks on both sides + the range condition bound the join state;
    append mode means a plain distributed parquet sink is exact.  At
    100 TB this is impressions-without-clicks over two firehoses — the
    outer variant is what funnel loss analysis actually needs."""
    return run_streaming_event_pairs(
        spark,
        events_path,
        key=key,
        tolerance_seconds=tolerance_seconds,
        watermark_delay=watermark_delay,
        left_type=left_type,
        right_type=right_type,
        checkpoint_dir=checkpoint_dir,
        state_partitions=state_partitions,
        state_store=state_store,
        max_files_per_trigger=max_files_per_trigger,
        how="left_outer",
    )


def run_streaming_enriched_counts(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    dim_key: str = "c_custkey",
    dim_col: str = "c_mktsegment",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAM-STATIC join + aggregation: enrich the event stream with a
    broadcast dimension table (the third join shape Structured Streaming
    supports, next to stream-stream and the stateful track core), then an
    update-mode aggregate by (dimension attribute, event_type) upserted
    into the storage-backed snapshot sink.

    Scale shape: the static side is broadcast per micro-batch — no shuffle
    of the stream, no state for the join itself; only the downstream
    aggregate keeps (groups) state.  The canonical 100 TB form for
    firehose × slowly-changing-dim enrichment."""
    from pyspark.sql import functions as F

    stem = _output_stem(checkpoint_dir, "sss_enrich_")
    stream_df = stream_events_source(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    enriched = stream_df.join(
        F.broadcast(dim.select(dim_key, dim_col)),
        stream_df["user_id"] == F.col(dim_key),
        "inner",
    )
    counts = (
        enriched.groupBy(dim_col, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn(
            "grp_key", F.concat_ws("|", F.col(dim_col), F.col("event_type"))
        )
    )
    sink = ParquetSnapshotSink(
        spark, "StreamingEnriched", "grp_key", path=f"{stem}_snapshot"
    )
    _replay(
        spark,
        counts.writeStream.outputMode("update").foreachBatch(sink),
        checkpoint_dir,
        state_partitions=state_partitions,
    )
    return sink.query().drop("grp_key")


def run_streaming_tumbling_counts(
    spark: SparkSession,
    events_path: str,
    width: str = "6 hours",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Streaming tumbling-window aggregation run to completion: update-mode
    windowed groupBy over the event stream, upserted per-batch into a
    ParquetSnapshotSink keyed by the window bucket — the streaming twin of
    the batch ``tumbling_counts`` operator (same oracle).

    The same graph runs unmodified against an unbounded source; there a
    ``withWatermark`` upstream bounds window state."""
    from stateful_spark_streaming_spark.operators.windows import tumbling_counts

    stem = _output_stem(checkpoint_dir, "sss_win_")
    stream_df = stream_events_source(spark, events_path)
    windowed = tumbling_counts(stream_df, width=width)
    sink = ParquetSnapshotSink(
        spark, "StreamingTumbling", "bucket_ms", path=f"{stem}_snapshot"
    )
    _replay(
        spark,
        windowed.writeStream.outputMode("update").foreachBatch(sink),
        checkpoint_dir,
        state_partitions=state_partitions,
    )
    return sink.query()
