"""Sampling / sharding operators for training-data pipelines (BASELINE.json
north star): deterministic stratified sampling and the shuffle-shard step
that turns a filtered corpus into training shards.

Everything here is content/id-keyed and deterministic — re-running the
pipeline on the same inputs yields byte-identical samples and shards, which
is what makes 100 TB dataset builds reproducible and resumable.  No
``rand()``: a seeded hash plays the role of the random draw, so the sample
is stable under retries, partial re-runs, and cluster re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.operators.text import md5_bucket


def _hash_bucket(col, buckets: int = 100, seed: str = ""):
    """Deterministic uniform bucket in [0, buckets) from md5(seed || col)."""
    return md5_bucket(F.md5(F.concat(F.lit(seed), col.cast("string"))), buckets)


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "strat1",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its id's hash
    bucket falls under the stratum's rate — the standard rebalancing step
    (e.g. downsample English, keep all low-resource languages).

    Map-only: no shuffle, no rand(), filter pushes into the scan stage.
    Rates are percentages of the 100-bucket hash space, so a rate of 0.25
    keeps exactly the rows whose bucket < 25 — the same rows every run.
    """
    rates = rates or {}
    bucket = _hash_bucket(F.col(id_col), 100, seed)
    # round, don't truncate: int(0.29 * 100) == 28 under float representation
    rate_expr = F.lit(int(round(default_rate * 100)))
    for k, v in rates.items():
        rate_expr = F.when(F.col(strata_col) == k, int(round(v * 100))).otherwise(rate_expr)
    return df.withColumn("_bucket", bucket).filter(
        F.col("_bucket") < rate_expr
    ).drop("_bucket")


def token_budget_mix(
    df: DataFrame,
    quality_col,
    tokens_col,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixture selection under a token budget: within each group
    (source/domain/language), rank docs best-quality-first and keep them
    while the group's cumulative token count stays within
    ``budget_tokens`` — the standard greedy mixture builder.

    One window per group key (a single shuffle); the running sum is the
    ordered-frame cumulative aggregate.  Deterministic: ties break on id.
    At 100 TB per-group ordering is a sort within each group's partition
    range — no global sort.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_q").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_q", quality_col)
        .withColumn("_t", tokens_col)
        .withColumn("cum_tokens", F.sum("_t").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(
            id_col,
            group_col,
            F.col("_t").alias("n_tokens"),
            F.col("_q").alias("quality"),
            "cum_tokens",
        )
    )


def temperature_mix(
    df: DataFrame,
    target_total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "temp1",
) -> DataFrame:
    """Temperature-weighted source mixing (alpha = 0.5): the multi-corpus
    rebalancing step every multilingual / multi-source pretraining recipe
    uses — sample each source in proportion to ``n_s^alpha`` so large
    sources are down-weighted and small sources up-weighted, targeting
    ``target_total`` kept docs overall.

    alpha is FIXED at 0.5 because ``sqrt`` is the one power IEEE 754
    guarantees correctly rounded — ``floor(sqrt(n))`` is therefore
    bit-identical across engines (general ``pow`` is not), which is what
    lets the keep decision carry an exact cross-engine oracle.  All
    downstream arithmetic is integer: with ``w_s = floor(sqrt(n_s))`` and
    ``W = sum(w_s)``, a source's keep rate in basis points is

        ``rate_bp_s = least(10000, (10000 * target_total * w_s) div (W * n_s))``

    so expected kept docs per source is ``target_total * w_s / W`` —
    kept mass proportional to sqrt(source size).  A row is kept iff its
    seeded md5 bucket in [0, 10000) falls under its source's rate — the
    same deterministic no-``rand()`` draw as ``stratified_sample``, so
    the mix is byte-stable under retries and re-partitioning.

    Scale shape: one tiny per-source count aggregate (partial-agg,
    #sources rows), rates broadcast back, then a MAP-ONLY filter over the
    corpus — the 100 TB side never shuffles.
    """
    n = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w = n.withColumn("_w", F.floor(F.sqrt(F.col("_n"))).cast("long"))
    big_w = w.agg(F.sum("_w").alias("_wsum"))
    rates = (
        w.crossJoin(F.broadcast(big_w))
        .withColumn(
            # DECIMAL(38,0), not BIGINT: at extreme-but-plausible parameters
            # (target_total ~1e10 docs, w_s ~3e5) the basis-point numerator
            # 10000·target·w crosses 9.2e18 and BIGINT would wrap silently.
            # The cap must apply BEFORE the division — Spark's `div` always
            # returns LONG and wraps when the raw quotient itself exceeds
            # BIGINT — so the numerator is clamped to 10000·denominator in
            # decimal space (quotient ≤ 10000 by construction, then exact).
            # Decimal bounds: numerator ≤ ~2.8e32, 10000·denominator stays
            # under 1e38 for any per-source count that fits BIGINT.  Results
            # at non-overflowing scales — and the oracle hashes — are
            # unchanged; DuckDB mirrors with HUGEINT.
            #
            # LOUD overflow (ADVICE r10): past even those bounds, a
            # DECIMAL(38,0) overflow under non-ANSI mode yields NULL, and
            # least() SKIPS nulls — an overflowed numerator would silently
            # return the 10000·denominator clamp (rate 10000: keep
            # everything), and both overflowing would make the rate NULL
            # (source silently filtered out).  The CASE raises instead:
            # keep-all/keep-none must never be how overflow presents.
            "rate_bp",
            F.expr(
                f"CAST(CASE WHEN"
                f" CAST(10000 AS DECIMAL(38,0)) * {target_total} * _w IS NULL"
                f" OR CAST(10000 AS DECIMAL(38,0))"
                f"    * (CAST(_wsum AS DECIMAL(38,0)) * _n) IS NULL"
                f" THEN raise_error('temperature_mix: basis-point arithmetic"
                f" overflowed DECIMAL(38,0) — corpus/target beyond supported"
                f" scale; reduce target_total or rescale weights')"
                f" ELSE least(CAST(10000 AS DECIMAL(38,0)) * {target_total} * _w,"
                f" CAST(10000 AS DECIMAL(38,0)) * (CAST(_wsum AS DECIMAL(38,0)) * _n))"
                f" div (CAST(_wsum AS DECIMAL(38,0)) * _n) END AS INT)"
            ),
        )
        .select(group_col, "rate_bp")
    )
    bucket = md5_bucket(
        F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 10000
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .withColumn("_bucket", bucket)
        .filter(F.col("_bucket") < F.col("rate_bp"))
        .select(id_col, group_col, "rate_bp")
    )


def shuffle_shard(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    seed: str = "shuf1",
) -> DataFrame:
    """Deterministic global shuffle + sharding: the last step of a training
    dataset build.  Each row gets a hash key; the shard is the key mod
    ``n_shards`` and the position is the rank of the key within the shard —
    together a stable pseudo-random permutation of the corpus.

    Scale shape: ONE shuffle (the window's partitionBy on shard), and each
    shard sorts locally by hash key — exactly what
    ``repartition(n_shards, key).sortWithinPartitions(key)`` does in the
    writer path; the (shard, pos) columns returned here are that writer's
    manifest.  At 100 TB pick n_shards so a shard fits a writer task
    (e.g. 100k shards of ~1 GB).
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    shard = md5_bucket(h, n_shards)
    w = Window.partitionBy("shard").orderBy("_hkey", id_col)
    return (
        df.withColumn("_hkey", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .drop("_hkey")
    )


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    seq_len: int = 2048,
    n_streams: int = 8,
    id_col: str = "doc_id",
    seed: str = "pack1",
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated into
    parallel token streams and the stream is cut every ``seq_len`` tokens,
    so training sequences are full and docs may span a cut.  Emits, per
    doc, its place in the packed layout: ``stream`` (which concat stream),
    ``start_offset`` (token position where the doc begins in its stream),
    ``pack_id`` (= start_offset div seq_len — the training sequence the
    doc STARTS in) and ``pack_offset`` (position within that sequence).

    Deterministic like everything in this module: the stream and the
    order within it come from md5(seed || id), not rand(), so the packed
    layout is byte-stable across re-runs and re-partitioning.

    Scale shape: ONE shuffle (the per-stream window); each stream's
    cumulative sum is a local sort + running fold.  ``n_streams`` is the
    writer parallelism knob — at 100 TB use enough streams that one
    stream's token count fits a writer task, exactly like shuffle-shard.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    stream = md5_bucket(h, n_streams)
    w = Window.partitionBy("stream").orderBy("_hkey", id_col)
    start = F.coalesce(
        F.sum(tokens_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return (
        df.withColumn("_hkey", h)
        .withColumn("stream", stream)
        .withColumn("start_offset", start)
        .withColumn(
            "pack_id", F.floor(F.col("start_offset") / F.lit(seq_len)).cast("long")
        )
        .withColumn(
            "pack_offset", (F.col("start_offset") % F.lit(seq_len)).cast("int")
        )
        .drop("_hkey")
    )


def pack_sequences_emit(
    df: DataFrame,
    tokens_array_col: str,
    seq_len: int = 2048,
    n_streams: int = 8,
    id_col: str = "doc_id",
    seed: str = "pack1",
) -> DataFrame:
    """Materialize the training sequences that ``pack_sequences`` lays out:
    one row per (stream, pack_id) holding the actual token window a trainer
    consumes — documents concatenated in layout order and cut at ``seq_len``
    token boundaries, docs spanning cuts split across consecutive packs.

    Per doc, the packs it overlaps are ``start_offset div seq_len`` through
    ``(start_offset + n - 1) div seq_len``; each overlap contributes the
    in-doc token slice covering that pack plus its position within the
    pack, and the pack's sequence is the position-ordered concatenation.
    Emits (stream, pack_id, n_docs, seq_filled, seq_text); every pack but a
    stream's last has seq_filled == seq_len by construction.

    Scale shape: the layout's per-stream window (one shuffle) + one
    (stream, pack_id) aggregation (second shuffle, volume = token count).
    Deterministic like the layout itself — md5-keyed order, no rand().
    """
    n = F.size(F.col(tokens_array_col))
    laid = pack_sequences(
        df.withColumn("_nt", n),
        tokens_col="_nt",
        seq_len=seq_len,
        n_streams=n_streams,
        id_col=id_col,
        seed=seed,
    )
    last_pack = F.floor(
        (F.col("start_offset") + F.col("_nt") - 1) / F.lit(seq_len)
    ).cast("long")
    # Zero-token (or null-array) docs must emit NO pack rows: F.sequence with
    # stop < start generates a DESCENDING array (sequence(0,-1) = [0,-1]),
    # which would fabricate negative pack_ids, while the DuckDB oracle's
    # generate_series is empty in that case.  _nt > 0 also excludes null
    # token arrays (F.size = -1).
    packs = laid.filter(F.col("_nt") > 0).withColumn(
        "p", F.explode(F.sequence(F.col("pack_id"), last_pack))
    )
    local_start = F.greatest(
        F.col("p") * seq_len - F.col("start_offset"), F.lit(0)
    )  # 0-based offset into the doc's tokens
    local_end = F.least(
        F.col("_nt").cast("long"), (F.col("p") + 1) * seq_len - F.col("start_offset")
    )  # 0-based exclusive
    pos_in_pack = F.greatest(
        F.col("start_offset") - F.col("p") * seq_len, F.lit(0)
    )
    pieces = packs.select(
        "stream",
        F.col("p").alias("pack_id"),
        pos_in_pack.alias("pos"),
        F.slice(
            F.col(tokens_array_col),
            (local_start + 1).cast("int"),
            (local_end - local_start).cast("int"),
        ).alias("piece"),
    )
    assembled = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("piece")))),
            lambda s: s["piece"],
        )
    )
    return pieces.groupBy("stream", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.size(assembled).alias("seq_filled"),
        F.array_join(assembled, " ").alias("seq_text"),
    )


def sample_n_per_group(
    df: DataFrame,
    group_col: str = "source",
    n: int = 50,
    id_col: str = "doc_id",
    seed: str = "grpN1",
) -> DataFrame:
    """Fixed-size per-group sample: keep exactly min(n, group size) rows
    from every group — the deterministic equivalent of per-group reservoir
    sampling (inspect K docs per source/domain, cap a dominant crawl at N
    docs, build eval slices).  Rows are ranked by md5(seed || id) within
    the group, so the "random" winners are stable across re-runs and
    re-partitioning, and changing n only extends/truncates the same
    ordering instead of reshuffling the sample.

    Scale shape: ONE shuffle (window partitionBy group).  A pathologically
    hot group funnels through one task here; if that bites, the same
    two-phase salted decomposition applies verbatim (rank is over a
    hash, so local top-n per (group, salt) then global top-n per group is
    exact)."""
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
    )
