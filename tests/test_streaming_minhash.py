"""Streaming MinHash near-dup ingest: multi-batch replays must match a
sequential simulation of the band-claim protocol (claims persist in the
state store between micro-batches), and the single-batch replay must match
the batch oracle semantics (min-doc claimant per band)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stateful_spark_streaming_spark.operators.dedup import minhash_bands_mapside
from stateful_spark_streaming_spark.streaming.pipeline import (
    run_streaming_dedup_minhash,
)


def _doc_bands(spark, docs_df):
    """(doc_id -> band list) via the shared map-side builder, sentinel for
    shingle-less docs — the same inputs the stream sees."""
    band_arr = minhash_bands_mapside(F.col("text"))
    sentinel = F.array(F.md5(F.concat(F.lit("uniq:"), F.col("doc_id").cast("string"))))
    rows = docs_df.select(
        "doc_id",
        F.when(F.size(band_arr) > 0, band_arr).otherwise(sentinel).alias("bh"),
    ).collect()
    return {r["doc_id"]: list(r["bh"]) for r in rows}


def _simulate(batches: list[list[int]], bands_of: dict[int, list[str]]) -> set[int]:
    """Sequential replay of _band_claim_fold: per batch, the min doc_id in
    the batch claims an unclaimed band; a doc is admitted iff it claims
    every one of its bands."""
    claimed: set[str] = set()
    admitted: set[int] = set()
    for batch in batches:
        flags = {d: False for d in batch}
        groups: dict[str, list[int]] = {}
        for d in batch:
            for b in bands_of[d]:
                groups.setdefault(b, []).append(d)
        for b, ds in groups.items():
            winner = min(ds)
            for d in ds:
                if d != winner or b in claimed:
                    flags[d] = True
            claimed.add(b)
        admitted |= {d for d, f in flags.items() if not f}
    return admitted


def test_streaming_minhash_multibatch_matches_simulation(spark, sf_dir, tmp_path):
    """3 interleaved micro-batches (doc_id % 3 — NOT id-ordered, so the
    sequential result genuinely differs from a single global pass): the
    streaming run must equal the simulation, proving band claims cross the
    state store between batches."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "docs_split")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    batches = []
    for i in range(3):
        part = docs.filter(F.col("doc_id") % 3 == i)
        seg_dir = str(tmp_path / f"seg{i}")
        part.coalesce(1).write.mode("overwrite").parquet(seg_dir)
        import glob
        import shutil

        f = glob.glob(os.path.join(seg_dir, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))  # mtime replay order
        batches.append([r["doc_id"] for r in part.select("doc_id").collect()])

    got = {
        r["doc_id"]
        for r in run_streaming_dedup_minhash(
            spark,
            src,
            checkpoint_dir=str(tmp_path / "ckpt_mh"),
            max_files_per_trigger=1,
        ).collect()
    }
    bands_of = _doc_bands(spark, docs)
    want = _simulate(batches, bands_of)
    assert got == want
    assert 0 < len(got) < docs.count()
    # the interleaved split must make the sequential result differ from the
    # single-pass one, or this test would not prove cross-batch state
    single = _simulate([sorted(b for bs in batches for b in bs)], bands_of)
    assert want != single


def test_streaming_minhash_sentinel_admits_short_docs(spark, tmp_path):
    """Docs with < 3 tokens (no shingles) get a unique sentinel band and
    are always admitted; identical long docs collide on all bands and only
    the min doc_id survives."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (3, "hi"),  # < 3 tokens -> sentinel
        (4, ""),  # empty -> sentinel
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = str(tmp_path / "tiny.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    got = {
        r["doc_id"]
        for r in run_streaming_dedup_minhash(
            spark, p, checkpoint_dir=str(tmp_path / "ckpt_tiny")
        ).collect()
    }
    assert got == {1, 3, 4}


def test_streaming_decontaminate_multibatch(spark, tmp_path):
    """Stream-static decontamination across 2 micro-batches: contaminated
    docs from BOTH batches are flagged exactly once; clean docs never
    appear.  The eval side is static/broadcast — no state store involved."""
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_decontaminate,
    )

    eval_rows = [(100, "the quick brown fox jumps over the lazy dog")]
    train_rows = [
        (1, "a quick brown fox jumped over a fence"),  # no shared 5-gram
        (2, "quick brown fox jumps over the lazy dog today"),  # batch 1 hit
        (3, "completely unrelated text about spark streaming state stores"),
        (4, "the quick brown fox jumps over the moon"),  # batch 2 hit
    ]
    eval_df = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    src = str(tmp_path / "train_stream")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, batch in enumerate([train_rows[:2], train_rows[2:]]):
        seg = str(tmp_path / f"tseg{i}")
        spark.createDataFrame(batch, ["doc_id", "text"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        import glob
        import shutil

        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))

    got = {
        r["doc_id"]
        for r in run_streaming_decontaminate(
            spark,
            src,
            eval_df=eval_df,
            k=5,
            checkpoint_dir=str(tmp_path / "ckpt_decon"),
            max_files_per_trigger=1,
        ).collect()
    }
    # doc 2 (batch 1) shares "quick brown fox jumps over"; doc 4 (batch 2)
    # shares "the quick brown fox jumps"; docs 1 and 3 have no shared 5-gram
    assert got == {2, 4}


def test_streaming_ivf_topk_equals_batch(spark, sf_dir, tmp_path):
    """Micro-batch ANN serving across 2 query micro-batches must equal the
    batch ivf_topk on the same query set against the same persisted index
    — probe plans are identical, only the driver differs."""
    from stateful_spark_streaming_spark.operators import similarity as SIM
    from stateful_spark_streaming_spark.sources.tables import load_table
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx_path = str(tmp_path / "ivf_idx")
    index = SIM.ivf_build_or_load(emb, idx_path, n_centroids=8)

    queries = emb.filter(F.col("vec_id") < 20)
    want = sorted(
        tuple(r)
        for r in SIM.ivf_topk(emb, queries, k=5, nprobe=2, index=index)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .collect()
    )

    # split queries into 2 files replayed one per micro-batch
    src = str(tmp_path / "qstream")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, cond in enumerate([F.col("vec_id") < 10,
                              (F.col("vec_id") >= 10) & (F.col("vec_id") < 20)]):
        seg = str(tmp_path / f"qseg{i}")
        queries.filter(cond).coalesce(1).write.mode("overwrite").parquet(seg)
        import glob
        import shutil

        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))

    got = sorted(
        tuple(r)
        for r in run_streaming_ivf_topk(
            spark,
            src,
            idx_path,
            k=5,
            nprobe=2,
            checkpoint_dir=str(tmp_path / "ckpt_ivfq"),
            max_files_per_trigger=1,
        )
        .select("query_id", "rank", "neighbor_id", "cosine")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_streaming_minhash_restart_resumes_claims(spark, tmp_path):
    """The ingest filter's claim state must survive a RESTART: a second
    availableNow run over new files, same checkpoint, must suppress docs
    colliding with bands claimed in the FIRST run — the incremental-corpus
    lifecycle (data lands, job restarts, claims persist in the store)."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = str(tmp_path / "ingest")
    os.makedirs(src, exist_ok=True)
    ck = str(tmp_path / "ckpt_restart")

    def land(fname, rows, mtime):
        seg = str(tmp_path / ("seg_" + fname))
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        import glob
        import shutil

        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, fname)
        shutil.copy(f, dst)
        os.utime(dst, (mtime, mtime))

    base = os.stat(src).st_mtime
    land("000.parquet", [(1, text), (2, "totally different words here entirely")], base)
    got1 = {
        r["doc_id"]
        for r in run_streaming_dedup_minhash(spark, src, checkpoint_dir=ck).collect()
    }
    assert got1 == {1, 2}

    # second run: doc 3 duplicates doc 1's text (suppressed by claims from
    # run ONE), doc 4 is new (admitted)
    land("001.parquet", [(3, text), (4, "yet another unrelated document body")], base + 10)
    got2 = {
        r["doc_id"]
        for r in run_streaming_dedup_minhash(spark, src, checkpoint_dir=ck).collect()
    }
    assert got2 == {1, 2, 4}, "claims from the first run did not survive restart"


def test_streaming_vocab_multibatch_equals_batch(spark, tmp_path):
    """Incremental vocabulary across 3 micro-batches must equal the batch
    vocab_topk on the union EXACTLY (counts, doc freqs, ranks) — the
    additive-partials contract: per-batch partials are disjoint in
    doc_freq because a doc's tokens never straddle batches, and summable
    in term_count.  The shared token 'common' spans all three batches, so
    cross-batch merging is actually exercised."""
    from stateful_spark_streaming_spark.operators.text import vocab_topk
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_vocab,
    )

    rows = [
        (1, "common alpha alpha beta"),
        (2, "common beta gamma"),
        (3, "common gamma gamma delta"),
        (4, "common delta epsilon"),
        (5, "common epsilon zeta zeta"),
        (6, ""),  # empty doc contributes nothing
    ]
    src = str(tmp_path / "vocab_stream")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        seg = str(tmp_path / f"vseg{i}")
        spark.createDataFrame(batch, ["doc_id", "text"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        import glob
        import shutil

        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))

    streamed = {
        tuple(r)
        for r in run_streaming_vocab(
            spark,
            src,
            top_n=10,
            checkpoint_dir=str(tmp_path / "ckpt_vocab"),
            max_files_per_trigger=1,
        ).collect()
    }
    batch = {
        tuple(r)
        for r in vocab_topk(
            spark.createDataFrame(rows, ["doc_id", "text"]), top_n=10
        ).collect()
    }
    assert streamed == batch
    by_tok = {t[0]: t for t in streamed}
    assert by_tok["common"][1] == 5 and by_tok["common"][2] == 5  # all 3 batches
    assert by_tok["common"][3] == 1  # rank 1


def test_streaming_vocab_replay_idempotent(spark, tmp_path):
    """Crash-replay contract: if a batch's partials are appended TWICE
    (crash between the parquet append and the checkpoint commit re-runs
    the batch with the same id and byte-identical rows), the merged
    vocabulary must not change — the (token, batch_id) dedupe makes the
    additive sink exactly-once."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_vocab,
    )

    rows = [(1, "alpha beta alpha"), (2, "beta gamma")]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    before = {
        tuple(r) for r in run_streaming_vocab(spark, src, checkpoint_dir=ckpt).collect()
    }
    # simulate the replayed append: duplicate the partial files in place
    out_dir = ckpt + "_partials"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    merged_again = {
        tuple(r) for r in run_streaming_vocab(spark, src, checkpoint_dir=ckpt).collect()
    }
    assert merged_again == before, "replayed partials must not double-count"
    by_tok = {t[0]: t for t in before}
    assert by_tok["alpha"][1] == 2 and by_tok["beta"][1] == 2


def test_streaming_lm_logprob_multibatch_equals_batch(spark, tmp_path):
    """Ingest-time bigram-LM scoring across 3 micro-batches must equal the
    batch bigram_logprob on the union EXACTLY — the staged
    (doc, w1, w2, c) counts are final per doc (a doc never straddles
    batches) and every corpus-level term is a sum over them.  The token
    'common' spans all batches so the cross-batch vocabulary merge is
    actually exercised."""
    from stateful_spark_streaming_spark.operators.text import bigram_logprob
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_lm_logprob,
    )

    rows = [
        (1, "common alpha alpha beta"),
        (2, "common beta gamma"),
        (3, "common gamma gamma delta"),
        (4, "common delta epsilon"),
        (5, "solo"),  # 1 token: emits no bigram
        (6, ""),  # empty doc contributes nothing
    ]
    from tests.conftest import land_batches

    src = land_batches(
        spark, tmp_path, "lm_stream", [rows[:2], rows[2:4], rows[4:]],
        ("doc_id", "text"),
    )

    batch_df = spark.createDataFrame(rows, ["doc_id", "text"])
    streamed = {
        tuple(r)
        for r in run_streaming_lm_logprob(
            spark,
            src,
            checkpoint_dir=str(tmp_path / "ckpt_lm"),
            max_files_per_trigger=1,
        ).collect()
    }
    expected = {tuple(r) for r in bigram_logprob(batch_df).collect()}
    assert streamed == expected, "streaming != batch"
    spark.catalog.clearCache()


def test_streaming_lm_logprob_replay_idempotent(spark, tmp_path):
    """Crash-replay contract (same as the vocab sink): duplicating a
    batch's appended count files must not change any score — the
    (doc, gram) distinct-on-read makes the additive sink exactly-once."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_lm_logprob,
    )

    rows = [(1, "alpha beta alpha"), (2, "beta gamma")]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt_lm")
    before = {
        tuple(r)
        for r in run_streaming_lm_logprob(
            spark, src, checkpoint_dir=ckpt
        ).collect()
    }
    out_dir = ckpt + "_counts"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    again = {
        tuple(r)
        for r in run_streaming_lm_logprob(
            spark, src, checkpoint_dir=ckpt
        ).collect()
    }
    assert again == before, "replayed count partials must not change scores"
    assert len(before) == 2


def test_streaming_decontaminate_replay_idempotent(spark, tmp_path):
    """Same crash-replay contract as the vocab sink: duplicating a
    batch's appended output files (replayed byte-identical rows) must not
    change the contaminated-id result."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_decontaminate,
    )

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    rows = [
        (1, "quick brown fox jumps over the lazy dog today"),  # contaminated
        (2, "entirely different content with no overlap here at all"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    got1 = sorted(
        r.doc_id
        for r in run_streaming_decontaminate(
            spark, src, eval_df=eval_df, k=5, checkpoint_dir=ckpt
        ).collect()
    )
    assert got1 == [1]
    out_dir = ckpt + "_out"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    got2 = sorted(
        r.doc_id
        for r in run_streaming_decontaminate(
            spark, src, eval_df=eval_df, k=5, checkpoint_dir=ckpt
        ).collect()
    )
    assert got2 == got1, "replayed appends must not duplicate results"


def test_streaming_dedup_minhash_admits_null_text(spark, tmp_path):
    """A null-text doc has no shingles — it gets a unique sentinel band
    and must always be admitted (the oracle's short-doc branch needs the
    explicit t IS NULL check for the same reason: len(NULL) < k is NULL,
    not true)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_dedup_minhash,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # near-dup, dropped
        (3, None),  # sentinel-banded, admitted
        (4, None),  # also admitted: sentinels are per-doc unique
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    got = sorted(
        r.doc_id
        for r in run_streaming_dedup_minhash(
            spark, src, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    )
    assert got == [1, 3, 4]


def test_streaming_dedup_minhash_string_ids(spark, tmp_path):
    """String-id corpora must survive BOTH Arrow boundaries: the band
    kernel (generic since r4) and the state-fold output struct, whose
    doc_id type is now derived from the input schema instead of a
    hardcoded LongType."""
    rows = [
        ("doc-a", "the quick brown fox jumps over the lazy dog"),
        ("doc-b", "the quick brown fox jumps over the lazy dog"),  # dup
        ("doc-c", "an entirely different document about spark streams"),
    ]
    src = str(tmp_path / "docs_str")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    out = run_streaming_dedup_minhash(
        spark, src, checkpoint_dir=str(tmp_path / "ckpt_str")
    )
    assert dict(out.dtypes)["doc_id"] == "string"
    assert sorted(r.doc_id for r in out.collect()) == ["doc-a", "doc-c"]


def test_streaming_entries_zero_batch_restart_return_typed_empty(spark, tmp_path):
    """Restart with a caught-up checkpoint and a cleaned output dir:
    availableNow fires ZERO micro-batches, nothing is ever appended, and
    each entry must return a typed empty frame — not crash with
    PATH_NOT_FOUND on the missing output dir (the r4 guard existed only in
    run_streaming_ivf_topk; ADVICE r4 asked for the other three)."""
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_corpus_report,
        run_streaming_decontaminate,
        run_streaming_dup_spans,
        run_streaming_vocab,
    )

    rows = [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon")]
    src = str(tmp_path / "docs_zb")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    eval_df = spark.createDataFrame([(100, "alpha beta gamma delta epsilon")],
                                    ["doc_id", "text"])
    src_card = str(tmp_path / "docs_zb_card")
    spark.createDataFrame(
        [(1, "web", "en", "alpha beta gamma")],
        "doc_id long, source string, lang string, text string",
    ).coalesce(1).write.parquet(src_card)

    for name, suffix, run in (
        ("vocab", "_partials",
         lambda ck: run_streaming_vocab(spark, src, top_n=10, checkpoint_dir=ck)),
        ("decon", "_out",
         lambda ck: run_streaming_decontaminate(spark, src, eval_df, k=3,
                                                checkpoint_dir=ck)),
        ("minhash", "_out",
         lambda ck: run_streaming_dedup_minhash(spark, src, checkpoint_dir=ck)),
        ("spans", "_index",
         lambda ck: run_streaming_dup_spans(spark, src, checkpoint_dir=ck)),
        ("card", "_stats",
         lambda ck: run_streaming_corpus_report(spark, src_card,
                                                checkpoint_dir=ck)),
    ):
        ck = str(tmp_path / f"ckpt_zb_{name}")
        first = run(ck)
        first_schema = first.schema
        assert first.count() > 0
        shutil.rmtree(ck + suffix)
        second = run(ck)  # same checkpoint: no new files -> zero batches
        assert second.count() == 0
        assert second.schema == first_schema, name


def test_streaming_dup_spans_multibatch_equals_batch(spark, tmp_path):
    """Span-level dedup at ingest across 3 micro-batches must equal batch
    dup_ngram_spans on the union EXACTLY — the staged hashed gram index is
    additive because a doc's grams never straddle batches.  The shared
    boilerplate sentence spans batches, so the cross-batch merge (a span
    whose duplicate evidence arrives in a LATER batch) is actually
    exercised."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.operators.dedup import dup_ngram_spans
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_dup_spans,
    )

    boiler = "this content is licensed under the creative commons attribution"
    rows = [
        (1, f"{boiler} and covers unique topic alpha beta gamma"),
        (2, "totally unrelated document about query planning and shuffles"),
        (3, f"another document reusing {boiler} in its middle section"),
        (4, "short doc"),  # < k tokens: no grams
        (5, f"{boiler}"),  # the boilerplate alone, third occurrence
        (6, None),  # null text: no grams
    ]
    src = str(tmp_path / "spans_stream")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        seg = str(tmp_path / f"sseg{i}")
        spark.createDataFrame(batch, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(seg)
        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))

    streamed = {
        tuple(r)
        for r in run_streaming_dup_spans(
            spark,
            src,
            k=5,
            checkpoint_dir=str(tmp_path / "ckpt_spans"),
            max_files_per_trigger=1,
        ).collect()
    }
    batch = {
        tuple(r)
        for r in dup_ngram_spans(
            spark.createDataFrame(rows, "doc_id long, text string"), k=5
        ).collect()
    }
    assert streamed == batch
    assert {t[0] for t in streamed} == {1, 3, 5}  # the boilerplate carriers


def test_streaming_dup_spans_replay_idempotent(spark, tmp_path):
    """Crash-replay contract: duplicating a batch's appended index files
    (byte-identical replayed rows) must not change the derived spans —
    the (doc, pos, gram-hash) distinct-on-read makes the sink
    exactly-once."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_dup_spans,
    )

    boiler = "the quick brown fox jumps over the lazy dog"
    rows = [(1, f"{boiler} alpha"), (2, f"{boiler} beta")]
    src = str(tmp_path / "docs_spans")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt_spans_replay")
    before = {
        tuple(r)
        for r in run_streaming_dup_spans(spark, src, checkpoint_dir=ckpt).collect()
    }
    assert before, "crafted dup spans must exist"
    out_dir = ckpt + "_index"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    again = {
        tuple(r)
        for r in run_streaming_dup_spans(spark, src, checkpoint_dir=ckpt).collect()
    }
    assert again == before, "replayed index rows must not change spans"


def test_streaming_corpus_report_multibatch_equals_batch(spark, tmp_path):
    """Ingest-time data card across 3 micro-batches must equal batch
    corpus_report on the union EXACTLY — including the CROSS-BATCH
    exact-dup count: doc 4 (batch 2) duplicates doc 1 (batch 1) and must
    count as a dup in ITS source, while doc 1 (corpus-min) must not."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.operators.text import corpus_report
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_corpus_report,
    )

    rows = [
        (1, "web", "en", "the quick brown fox jumps over the lazy dog"),
        (2, "web", "de", "ein ganz anderes deutsches dokument"),
        (3, "books", "en", "a long and entirely unique book excerpt"),
        (4, "books", "en", "The QUICK brown fox -- jumps over the lazy dog!"),
        (5, "web", "en", "another unique web document about spark"),
        (6, "books", "en", "the quick brown fox jumps over the lazy dog"),
    ]
    schema = "doc_id long, source string, lang string, text string"
    src = str(tmp_path / "card_stream")
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        seg = str(tmp_path / f"cseg{i}")
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))

    streamed = {
        r.source: tuple(r)
        for r in run_streaming_corpus_report(
            spark, src,
            checkpoint_dir=str(tmp_path / "ckpt_card"),
            max_files_per_trigger=1,
        ).collect()
    }
    batch = {
        r.source: tuple(r)
        for r in corpus_report(spark.createDataFrame(rows, schema)).collect()
    }
    assert streamed == batch
    # docs 4 and 6 normalize to doc 1's content; 1 is the corpus min →
    # both dups land in 'books' (cross-batch evidence), none in 'web'
    assert streamed["books"][4] == 2 and streamed["web"][4] == 0


def test_streaming_corpus_report_replay_idempotent(spark, tmp_path):
    """Duplicating a batch's appended partial files (byte-identical
    replayed rows) must not change the card — the per-(key, batch)
    dedupe makes both additive sinks exactly-once."""
    import glob
    import shutil

    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_corpus_report,
    )

    rows = [
        (1, "web", "en", "the quick brown fox"),
        (2, "web", "en", "the quick brown fox"),  # exact dup of 1
        (3, "web", "de", "etwas anderes hier"),
    ]
    schema = "doc_id long, source string, lang string, text string"
    src = str(tmp_path / "docs_card")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    ck = str(tmp_path / "ckpt_card_replay")
    before = {tuple(r) for r in run_streaming_corpus_report(
        spark, src, checkpoint_dir=ck).collect()}
    for d in (ck + "_stats", ck + "_fps"):
        for f in glob.glob(os.path.join(d, "part-*.parquet")):
            shutil.copy(f, f.replace("part-", "replay-part-"))
    again = {tuple(r) for r in run_streaming_corpus_report(
        spark, src, checkpoint_dir=ck).collect()}
    assert again == before
    (row,) = before
    assert row[1] == 3 and row[4] == 1  # 3 docs, 1 exact dup


def test_streaming_corpus_report_generic_id_col(spark, tmp_path):
    """A non-default id_col must work end to end — the stats sink used to
    hardcode doc_id while the fps sink honored id_col (ADVICE r5)."""
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_corpus_report,
    )

    rows = [
        ("a1", "some english text with the and that words", "web", "en"),
        ("a2", "some english text with the and that words", "web", "en"),
        ("b1", "mas texto unico en espanol aqui", "books", "es"),
    ]
    src = str(tmp_path / "gid_docs")
    spark.createDataFrame(rows, ["docid", "text", "source", "lang"]).coalesce(
        1
    ).write.parquet(src)
    out = {
        r.source: r
        for r in run_streaming_corpus_report(
            spark,
            src,
            id_col="docid",
            checkpoint_dir=str(tmp_path / "ck_gid"),
        ).collect()
    }
    assert out["web"].n_docs == 2 and out["web"].n_exact_dup == 1
    assert out["books"].n_docs == 1 and out["books"].n_en == 0
