"""Staged-sink compaction: folding the batch-stamped partial logs must be
invisible to the read path (byte-identical results) while physically
shrinking the log — closing the SCALE.md "partials can compact at any
cadence" claim with executable proof for every staged sink family."""

from __future__ import annotations

import glob
import os
import shutil

from stateful_spark_streaming_spark.streaming.pipeline import (
    STAGED_SINK_COMPACTION,
    compact_partial_log,
    run_streaming_corpus_report,
    run_streaming_dup_spans,
    run_streaming_lm_logprob,
    run_streaming_vocab,
)


from tests.conftest import land_batches as _land_batches


def _n_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


def _roundtrip(spark, run, staged_dirs_and_specs):
    """Result before == result after compacting every staged dir, and the
    total file count drops (the fold is physical, not a no-op)."""
    before = sorted(map(tuple, run().collect()))
    n_before = sum(_n_files(d) for d, _ in staged_dirs_and_specs)
    for d, spec in staged_dirs_and_specs:
        compact_partial_log(spark, d, **spec)
    n_after = sum(_n_files(d) for d, _ in staged_dirs_and_specs)
    after = sorted(map(tuple, run().collect()))
    assert after == before, "compaction changed the read result"
    assert n_after < n_before, f"no physical fold: {n_before} -> {n_after}"
    assert before, "fixture produced an empty result — test proves nothing"


def test_vocab_and_lm_compaction(spark, tmp_path):
    batches = [
        [("d1", "common alpha alpha beta"), ("d2", "common beta gamma")],
        [("d3", "common gamma gamma delta")],
        [("d4", "common delta epsilon"), ("d5", "common epsilon zeta zeta")],
        [("d6", "common zeta alpha")],
    ]
    src = _land_batches(spark, tmp_path, "vl", batches, ("doc_id", "text"))

    ck_v = str(tmp_path / "ck_vocab")
    _roundtrip(
        spark,
        lambda: run_streaming_vocab(
            spark, src, top_n=10, checkpoint_dir=ck_v, max_files_per_trigger=1
        ),
        [(ck_v + "_partials", STAGED_SINK_COMPACTION["vocab"])],
    )

    ck = str(tmp_path / "ck_lm")
    _roundtrip(
        spark,
        lambda: run_streaming_lm_logprob(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        ),
        [(ck + "_counts", STAGED_SINK_COMPACTION["lm_bigram"])],
    )


def test_span_index_compaction(spark, tmp_path):
    shared = "one two three four five"
    batches = [
        [("a", f"{shared} alpha beta gamma")],
        [("b", f"{shared} delta epsilon zeta")],
        [("c", "nothing shared in this document at all")],
        [("d", f"prefix words then {shared} suffix")],
    ]
    src = _land_batches(spark, tmp_path, "spans", batches, ("doc_id", "text"))
    ck = str(tmp_path / "ck_spans")
    _roundtrip(
        spark,
        lambda: run_streaming_dup_spans(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        ),
        [(ck + "_index", STAGED_SINK_COMPACTION["span_index"])],
    )


def test_corpus_report_compaction(spark, tmp_path):
    dup = "this exact text appears twice across batches"
    batches = [
        [("d1", dup, "web", "en"), ("d2", "unique first text", "web", "en")],
        [("d3", dup, "books", "en")],
        [("d4", "mas texto unico aqui", "books", "es")],
        [("d5", "another unique document body", "web", "en")],
    ]
    src = _land_batches(
        spark, tmp_path, "card", batches, ("doc_id", "text", "source", "lang")
    )
    ck = str(tmp_path / "ck_card")
    _roundtrip(
        spark,
        lambda: run_streaming_corpus_report(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        ),
        [
            (ck + "_stats", STAGED_SINK_COMPACTION["corpus_stats"]),
            (ck + "_fps", STAGED_SINK_COMPACTION["corpus_fps"]),
        ],
    )


def test_minhash_admitted_log_compaction(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_dedup_minhash,
    )

    batches = [
        [(1, "the quick brown fox jumps over the lazy dog today")],
        [(2, "a completely different document about query planning")],
    ]
    src = _land_batches(spark, tmp_path, "mh", batches, ("doc_id", "text"))
    ck = str(tmp_path / "ck_mh")
    out_dir = ck + "_out"

    def run():
        return run_streaming_dedup_minhash(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        )

    before = sorted(r.doc_id for r in run().collect())
    # simulate a crash-replay: duplicate the appended files, then compact —
    # the distinct fold must absorb the replay AND shrink the log
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    n_dirty = _n_files(out_dir)
    compact_partial_log(spark, out_dir, **STAGED_SINK_COMPACTION["minhash_admitted"])
    assert _n_files(out_dir) < n_dirty
    assert sorted(r.doc_id for r in run().collect()) == before == [1, 2]


def test_compaction_rejects_undeclared_columns(spark, tmp_path):
    """Schema drift between a sink and its compaction spec must raise, not
    silently drop a column from the log."""
    import pytest

    p = str(tmp_path / "bad_log")
    spark.createDataFrame(
        [("t", 1, 7, 0)], ["token", "term_count", "surprise", "_batch_id"]
    ).write.parquet(p)
    with pytest.raises(ValueError, match="refusing to drop"):
        compact_partial_log(spark, p, **STAGED_SINK_COMPACTION["vocab"])


def test_kmv_compaction_refuses_narrowing_fold(spark, tmp_path):
    """A KMV log written with k larger than the spec's kmv_k would be
    silently NARROWED by the fold's slice, corrupting read-path
    estimates; the fold must measure the staged sketch width and fail
    loudly instead (ADVICE r12).  Widening (k smaller than spec) stays
    harmless and allowed."""
    import pytest

    from stateful_spark_streaming_spark.streaming.pipeline import (
        distinct_kmv_compaction_spec,
    )

    p = str(tmp_path / "kmv_log")
    # sketch width 6: wider than kmv_k=4 (narrowing — refuse), within
    # kmv_k=8 (widening — fold normally)
    spark.createDataFrame(
        [("t0", 10, list(range(1, 7)), 0), ("t0", 5, list(range(4, 10)), 1)],
        ["event_type", "n_rows", "hs", "_batch_id"],
    ).write.parquet(p)
    with pytest.raises(ValueError, match="narrow"):
        compact_partial_log(spark, p, **distinct_kmv_compaction_spec(k=4))
    compact_partial_log(spark, p, **distinct_kmv_compaction_spec(k=8))
    row = spark.read.parquet(p).collect()
    assert len(row) == 1
    assert row[0].n_rows == 15 and row[0].hs == list(range(1, 9))


def test_compaction_missing_log_is_noop(spark, tmp_path):
    compact_partial_log(
        spark, str(tmp_path / "never_written"), **STAGED_SINK_COMPACTION["vocab"]
    )


def test_streaming_distinct_stats_exact_and_compactable(spark, tmp_path):
    """The mergeable-sketch ingest twin, all three contracts in one
    fixture: (1) multi-batch streaming EQUALS the single-pass batch
    operator exactly (DataSketches HLL union is register-wise max —
    order-insensitive, so estimates are equal, not merely close);
    (2) replayed appends change nothing (batch-stamp dedupe + union
    idempotency); (3) the sketch log compacts through the hll fold class
    with read results byte-identical and fewer files."""
    from stateful_spark_streaming_spark.operators.relational import (
        distinct_sketch_stats,
    )
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_distinct_stats,
    )

    rows = [(i, f"t{i % 3}", i % 17) for i in range(300)]
    cols = ("event_id", "event_type", "user_id")
    batches = [rows[:100], rows[100:180], rows[180:]]
    src = _land_batches(spark, tmp_path, "ev", batches, cols)
    ck = str(tmp_path / "ck_hll")

    def run():
        return run_streaming_distinct_stats(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        )

    streamed = sorted(map(tuple, run().collect()))
    batch = sorted(
        map(
            tuple,
            distinct_sketch_stats(
                spark.createDataFrame(rows, list(cols)),
                key="event_type",
                count_col="user_id",
            ).collect(),
        )
    )
    assert streamed == batch, "sketch union-of-partials must EQUAL single-pass"
    assert all(n == 100 for _, n, _ in streamed)  # 3 types x 100 rows

    # replayed append: duplicate the staged partial files
    out_dir = ck + "_sketches"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    assert sorted(map(tuple, run().collect())) == streamed

    # compaction (hll fold class): read-identical, fewer files
    n_dirty = _n_files(out_dir)
    compact_partial_log(spark, out_dir, **STAGED_SINK_COMPACTION["distinct_sketch"])
    assert _n_files(out_dir) < n_dirty
    assert sorted(map(tuple, run().collect())) == streamed


def test_compaction_refuses_uncommitted_checkpoint(spark, tmp_path):
    """ADVICE r6: the "never compact between a crash and the restart
    replay" contract, promoted from docstring to guard.  The checkpoint's
    offsets WAL runs ahead of commits exactly while a batch is in flight
    or died uncommitted — compaction must refuse then (folding would
    stamp the uncommitted batch's rows with the max batch id, and the
    replay re-append would double-count), and proceed when every started
    batch committed."""
    import pytest

    log = str(tmp_path / "log")
    spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 1)], "k string, c long, _batch_id long"
    ).write.parquet(log)

    ckpt = str(tmp_path / "ckpt")
    for sub, ids in [("offsets", [0, 1]), ("commits", [0])]:
        os.makedirs(os.path.join(ckpt, sub))
        for i in ids:
            open(os.path.join(ckpt, sub, str(i)), "w").write("{}")
    # in-flight metadata temp files must not count as started batches
    open(os.path.join(ckpt, "offsets", ".2.tmp"), "w").write("{}")

    with pytest.raises(RuntimeError, match="batch 1 .*not in its commits"):
        compact_partial_log(
            spark, log, keys=["k"], sums=("c",), checkpoint_dir=ckpt
        )
    # the guard refused BEFORE touching the log
    assert spark.read.parquet(log).count() == 2

    open(os.path.join(ckpt, "commits", "1"), "w").write("{}")
    compact_partial_log(spark, log, keys=["k"], sums=("c",), checkpoint_dir=ckpt)
    row = spark.read.parquet(log).collect()
    assert len(row) == 1 and row[0].c == 3

    # a brand-new checkpoint (zero batches yet) is trivially clean
    compact_partial_log(
        spark, log, keys=["k"], sums=("c",),
        checkpoint_dir=str(tmp_path / "empty_ckpt"),
    )


def test_streaming_distinct_kmv_exact_and_compactable(spark, tmp_path):
    """The ORACLE-EXACT sketch ingest twin (KMV bottom-k), same three
    contracts as the HLL fixture above: (1) multi-batch streaming EQUALS
    the single-pass batch operator exactly (bottom-k of unioned
    bottom-ks is the global bottom-k); (2) replayed appends change
    nothing; (3) the staged log compacts through the kmv fold class with
    read results identical and fewer files."""
    from stateful_spark_streaming_spark.operators.relational import (
        distinct_kmv_stats,
    )
    from stateful_spark_streaming_spark.streaming.pipeline import (
        distinct_kmv_compaction_spec,
        run_streaming_distinct_kmv,
    )

    k = 8  # << 51 distinct users per type: the estimator branch engages
    rows = [(i, f"t{i % 3}", i % 51) for i in range(300)]
    cols = ("event_id", "event_type", "user_id")
    batches = [rows[:100], rows[100:180], rows[180:]]
    src = _land_batches(spark, tmp_path, "ev", batches, cols)
    ck = str(tmp_path / "ck_kmv")

    def run():
        return run_streaming_distinct_kmv(
            spark, src, k=k, checkpoint_dir=ck, max_files_per_trigger=1
        )

    streamed = sorted(map(tuple, run().collect()))
    batch = sorted(
        map(
            tuple,
            distinct_kmv_stats(
                spark.createDataFrame(rows, list(cols)),
                key="event_type",
                count_col="user_id",
                k=k,
            ).collect(),
        )
    )
    assert streamed == batch, "KMV union-of-partials must EQUAL single-pass"
    assert all(n == 100 for _, n, _ in streamed)  # 3 types x 100 rows

    # replayed append: duplicate the staged partial files
    out_dir = ck + "_sketches"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    assert sorted(map(tuple, run().collect())) == streamed

    # compaction (kmv fold class): read-identical, fewer files
    n_dirty = _n_files(out_dir)
    compact_partial_log(spark, out_dir, **distinct_kmv_compaction_spec(k=k))
    assert _n_files(out_dir) < n_dirty
    assert sorted(map(tuple, run().collect())) == streamed

    # the read path itself validates the log's k stamp: re-reading the
    # same staged log under a different k must refuse, not silently take
    # the m < k exact-count branch on a differently-sized sketch
    import pytest

    with pytest.raises(ValueError, match="written with k"):
        run_streaming_distinct_kmv(
            spark, src, k=k // 2, checkpoint_dir=ck, max_files_per_trigger=1
        )


def test_streaming_image_keep_best_exact_and_compactable(spark, tmp_path):
    """The multimodal family's first INGEST runner, all three staged-sink
    contracts in one fixture: (1) multi-batch streaming EQUALS the batch
    hamming_keep_best exactly (per-hash n is additive and the
    lexicographic best folds as max(struct(gq, −id)) — achievers
    partition across batches, so the fold is the batch winner rule);
    (2) replayed appends change nothing; (3) both staged logs compact
    through their declared fold classes with read results identical."""
    import pyspark.sql.functions as F

    from stateful_spark_streaming_spark.operators import multimodal as MM
    from stateful_spark_streaming_spark.operators.dedup import hamming_keep_best
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_image_keep_best,
    )

    # the synth pixel pattern is (id·7 + 3x + 5y + 11c) mod 256, so two
    # ids CONGRUENT mod 256 with equal (w, h) are pixel-identical — plant
    # 12 groups of 3 exact copies, one copy per micro-batch, so hash
    # groups straddle batches and the cross-batch fold is really exercised
    batches_docs = [
        [(i + 256 * r, 40 + (i % 5) * 3) for i in range(12)] for r in range(3)
    ]
    docs = [d for b in batches_docs for d in b]
    cols = ("image_id", "data", "format", "width", "height")
    batches = []
    for bdocs in batches_docs:
        d = spark.createDataFrame(bdocs, "doc_id long, n_chars long")
        rows = [tuple(r) for r in MM.synthesize_image_table(spark, d).collect()]
        batches.append(rows)
    src = _land_batches(spark, tmp_path, "imgkb", batches, cols)

    ck = str(tmp_path / "ck_imgkb")

    def run():
        return run_streaming_image_keep_best(
            spark, src, checkpoint_dir=ck, max_ham=1, max_files_per_trigger=1
        )

    got = sorted(map(tuple, run().collect()))

    # batch reference over the union of all batches
    full = spark.createDataFrame(docs, "doc_id long, n_chars long")
    img = MM.synthesize_image_table(spark, full)
    hashed = MM.image_ahash(img)
    quality = img.select(
        "image_id",
        (F.col("width").cast("double") * F.col("height")).alias("pixels"),
    )
    want = sorted(map(tuple, hamming_keep_best(
        hashed, "image_id", "ahash_bits", quality, "pixels",
        max_ham=1, n_bands=2,
    ).collect()))
    assert got == want and len(got) > 1
    assert any(r[2] == "best_of_cluster" for r in got), (
        "fixture produced no duplicate clusters — equality proves nothing"
    )

    # replay idempotency: duplicate the appended partials, result unchanged
    out_dir = ck + "_partials"
    for f in glob.glob(os.path.join(out_dir, "part-*.parquet")):
        shutil.copy(f, f.replace("part-", "replay-part-"))
    assert sorted(map(tuple, run().collect())) == want

    # compaction: fold classes declared in STAGED_SINK_COMPACTION
    n_dirty = _n_files(out_dir)
    compact_partial_log(spark, out_dir, **STAGED_SINK_COMPACTION["image_kb_partials"])
    null_dir = ck + "_nullids"
    compact_partial_log(
        spark, null_dir, **STAGED_SINK_COMPACTION["image_kb_nullids"]
    )  # missing-log no-op (synthetic corpus has no null blobs)
    assert _n_files(out_dir) < n_dirty
    assert sorted(map(tuple, run().collect())) == want


def test_kmv_k_stamp_closes_the_all_narrow_union_hole(spark, tmp_path):
    """r13 review: the WIDTH heuristic alone cannot catch a narrowing
    fold when every per-batch sketch is individually under the (wrong)
    spec k but their UNION exceeds it — the fold slices the union and
    the read path's m < k branch then reports the sliced width as an
    EXACT count.  The writer now stamps its k into the log (`_kmv_k`):
    a mismatched fold refuses regardless of staged widths, a matched
    fold carries the stamp through unchanged."""
    import pytest

    from stateful_spark_streaming_spark.streaming.pipeline import (
        distinct_kmv_compaction_spec,
    )

    p = str(tmp_path / "kmv_stamped")
    # two batches, widths 3 each — both under the wrong spec's k=4, so
    # the width heuristic passes; the union holds 6 hashes
    spark.createDataFrame(
        [("t0", 10, [1, 2, 3], 0, 8), ("t0", 5, [4, 5, 6], 1, 8)],
        ["event_type", "n_rows", "hs", "_batch_id", "_kmv_k"],
    ).write.parquet(p)
    with pytest.raises(ValueError, match="_kmv_k"):
        compact_partial_log(spark, p, **distinct_kmv_compaction_spec(k=4))
    compact_partial_log(spark, p, **distinct_kmv_compaction_spec(k=8))
    row = spark.read.parquet(p).collect()
    assert len(row) == 1
    assert row[0].n_rows == 15 and row[0].hs == [1, 2, 3, 4, 5, 6]
    assert row[0]._kmv_k == 8


def test_streaming_image_keep_best_null_quality_parity(spark, tmp_path):
    """r13 review: a hash group whose members ALL have NULL width/height
    got qbp = NULL in the ingest sink — the achiever filter never
    matched, the inner join dropped the whole group, and the streamed
    output silently LOST images the batch operator retains (batch ranks
    missing quality as -1).  Pin streaming == batch on exactly that
    corpus, plus the every-image-accounted invariant the bug broke."""
    import pyspark.sql.functions as F

    from stateful_spark_streaming_spark.operators import multimodal as MM
    from stateful_spark_streaming_spark.operators.dedup import hamming_keep_best
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_image_keep_best,
    )

    # two exact-copy pairs straddling the two batches (ids congruent mod
    # 256 with equal n_chars are pixel-identical); the id%256==7 pair has
    # its width/height NULLed — rank -1 on every member of that hash group
    batches_docs = [[(1, 40), (7, 43)], [(257, 40), (263, 43)]]
    cols = ("image_id", "data", "format", "width", "height")
    batches = []
    for bdocs in batches_docs:
        d = spark.createDataFrame(bdocs, "doc_id long, n_chars long")
        t = (
            MM.synthesize_image_table(spark, d)
            .withColumn(
                "width",
                F.when(F.col("image_id") % 256 == 7, None).otherwise(
                    F.col("width")
                ),
            )
            .withColumn(
                "height",
                F.when(F.col("image_id") % 256 == 7, None).otherwise(
                    F.col("height")
                ),
            )
        )
        batches.append([tuple(r) for r in t.select(*cols).collect()])
    src = _land_batches(spark, tmp_path, "imgkbnull", batches, cols)

    got = sorted(
        map(
            tuple,
            run_streaming_image_keep_best(
                spark,
                src,
                checkpoint_dir=str(tmp_path / "ck_imgkb_null"),
                max_ham=1,
                max_files_per_trigger=1,
            ).collect(),
        )
    )
    img = spark.read.parquet(src)
    want = sorted(
        map(
            tuple,
            hamming_keep_best(
                MM.image_ahash(img),
                "image_id",
                "ahash_bits",
                img.select(
                    "image_id",
                    (F.col("width").cast("double") * F.col("height")).alias(
                        "pixels"
                    ),
                ),
                "pixels",
                max_ham=1,
                n_bands=2,
            ).collect(),
        )
    )
    assert got == want
    # every image accounted for: sum of cluster sizes == corpus size (the
    # dropped-group bug made this 2, not 4)
    assert sum(r[1] for r in got) == 4


def test_vocab_read_recovers_a_crash_mid_compaction(spark, tmp_path):
    """A compaction killed between its two renames leaves a complete
    ``<log>.tmp`` and the live log moved to ``<log>.old``.  The runner's
    read must roll that generation forward instead of reading a
    never-written log, and the next batch must append into the recovered
    log, not into a fresh dir whose compaction would then delete the
    ``.tmp`` and ``.old`` beside it."""
    batches = [
        [("d1", "common alpha alpha beta"), ("d2", "common beta gamma")],
        [("d3", "common gamma gamma delta")],
        [("d4", "common delta epsilon"), ("d5", "common epsilon zeta zeta")],
    ]
    cols = ("doc_id", "text")
    src = _land_batches(spark, tmp_path, "crash", batches[:2], cols)
    ck = str(tmp_path / "ck_crash")
    log = ck + "_partials"
    spec = STAGED_SINK_COMPACTION["vocab"]

    def run(checkpoint_dir=ck, **kw):
        return sorted(
            map(
                tuple,
                run_streaming_vocab(
                    spark, src, top_n=10, checkpoint_dir=checkpoint_dir, **kw
                ).collect(),
            )
        )

    before = run(max_files_per_trigger=1)
    assert before
    # the crash state: the folded generation fully written to <log>.tmp,
    # the live log renamed to <log>.old, the promoting rename never ran
    side = str(tmp_path / "side")
    shutil.copytree(log, side)
    compact_partial_log(spark, side, **spec)
    os.rename(side, log + ".tmp")
    os.rename(log, log + ".old")
    assert run(max_files_per_trigger=1) == before

    third = _land_batches(spark, tmp_path, "crash3", batches[2:], cols)
    dst = os.path.join(src, "002.parquet")
    shutil.move(os.path.join(third, "000.parquet"), dst)
    t = os.stat(os.path.join(src, "001.parquet")).st_mtime + 10
    os.utime(dst, (t, t))
    run(max_files_per_trigger=1)
    compact_partial_log(spark, log, **spec)
    assert run(max_files_per_trigger=1) == run(str(tmp_path / "ck_one_pass"))


def test_keyed_runners_fold_under_the_spec_their_key_builds(spark, tmp_path):
    """Runners whose key is an argument build their log's fold spec from
    it: with a non-default key each still equals its batch twin, and
    compacting under the spec built from that key leaves the read
    unchanged."""
    import pyspark.sql.functions as F

    from stateful_spark_streaming_spark.operators.relational import (
        distinct_sketch_stats,
    )
    from stateful_spark_streaming_spark.operators.stats import (
        fixed_width_histogram,
        source_drift,
    )
    from stateful_spark_streaming_spark.operators.text import quality_score
    from stateful_spark_streaming_spark.streaming.pipeline import (
        distinct_sketch_compaction_spec,
        quality_hist_compaction_spec,
        run_streaming_distinct_stats,
        run_streaming_quality_histogram,
        run_streaming_source_drift,
        source_drift_compaction_spec,
    )

    ev_rows = [(i, f"t{i % 3}", i % 7) for i in range(120)]
    ev = _land_batches(
        spark, tmp_path, "ev", [ev_rows[:40], ev_rows[40:80], ev_rows[80:]],
        ("event_id", "event_type", "user_id"),
    )
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "der schnelle braune fuchs springt über den faulen hund",
        "the fox and the hound share the the tokens",
        "ein ganz neuer wortschatz erscheint hier jetzt",
        "alpha alpha beta fox dog lazy",
        "word " * 40,
    ]
    doc_rows = [
        (i, t, f"src{i % 2}", "de" if i in (1, 3) else "en")
        for i, t in enumerate(texts)
    ]
    docs = _land_batches(
        spark, tmp_path, "docs", [doc_rows[:2], doc_rows[2:4], doc_rows[4:]],
        ("doc_id", "text", "source", "lang"),
    )
    doc_df = spark.read.parquet(docs)
    cases = [
        (
            "hll",
            lambda ck: run_streaming_distinct_stats(
                spark, ev, key="user_id", count_col="event_id",
                checkpoint_dir=ck, max_files_per_trigger=1,
            ),
            "_sketches",
            distinct_sketch_compaction_spec(key="user_id"),
            distinct_sketch_stats(
                spark.read.parquet(ev), key="user_id", count_col="event_id"
            ),
        ),
        (
            "drift",
            lambda ck: run_streaming_source_drift(
                spark, docs, group_col="lang", checkpoint_dir=ck,
                max_files_per_trigger=1,
            ),
            "_counts",
            source_drift_compaction_spec(group_col="lang"),
            source_drift(doc_df, group_col="lang"),
        ),
        (
            "qhist",
            lambda ck: run_streaming_quality_histogram(
                spark, docs, group_col="lang", checkpoint_dir=ck,
                max_files_per_trigger=1,
            ),
            "_hist",
            quality_hist_compaction_spec(group_col="lang"),
            fixed_width_histogram(
                quality_score(doc_df, keep_cols=("lang",)),
                F.col("quality_score"),
                ("lang",),
                n_bins=20,
            ),
        ),
    ]
    for name, run, suffix, spec, twin in cases:
        ck = str(tmp_path / f"ck_{name}")
        got = sorted(map(tuple, run(ck).collect()))
        assert got and got == sorted(map(tuple, twin.collect())), name
        n_dirty = _n_files(ck + suffix)
        compact_partial_log(spark, ck + suffix, **spec)
        assert _n_files(ck + suffix) < n_dirty, name
        assert sorted(map(tuple, run(ck).collect())) == got, name
