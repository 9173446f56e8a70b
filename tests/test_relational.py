"""Relational operator semantics: sketch aggregates, bucketed joins,
grouping sets and snowflake shares."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.operators import relational as REL
from stateful_spark_streaming_spark.sources.tables import load_table


def test_approx_stats_error_bounds(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    approx = {r.event_type: r for r in REL.approx_distinct_stats(
        ev, key="event_type", value_col="value", count_col="user_id").collect()}
    exact = {r.event_type: r for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd"),
        F.percentile("value", F.lit(0.5)).alias("p50")).collect()}
    for et, e in exact.items():
        a = approx[et]
        assert abs(a.approx_distinct - e.nd) <= max(2, 0.05 * e.nd), (
            f"{et}: HLL estimate {a.approx_distinct} vs exact {e.nd}"
        )
        assert abs(a.approx_p50 - e.p50) <= max(0.5, 0.05 * abs(e.p50)), (
            f"{et}: t-digest p50 {a.approx_p50} vs exact {e.p50}"
        )


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """The 100 TB fact-fact join technique: bucket both tables on the join
    key at write time; the join then plans NO shuffle at all (SortMergeJoin
    over bucketed scans), and results match the plain join."""
    from stateful_spark_streaming_spark.sources.tables import (
        bucketed_join,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    try:
        write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"),
                       "orders_b", "okey", n_buckets=4, sort_col="okey")
        write_bucketed(lineitem.withColumnRenamed("l_orderkey", "okey"),
                       "lineitem_b", "okey", n_buckets=4, sort_col="okey")

        joined = bucketed_join(spark, "orders_b", "lineitem_b", "okey")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted")
        assert "Exchange" not in plan, (
            f"bucketed join must not shuffle:\n{plan[:600]}"
        )

        got = joined.count()
        want = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
        assert got == want
    finally:
        # managed tables: DROP removes the warehouse files too
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_revenue_cube_grouping_sets(spark, sf_dir):
    """The CUBE's grand-total row must equal the plain full aggregate, and
    each grouping-set slice must re-aggregate to the same grand total."""
    orders = load_table(spark, sf_dir, "orders")
    cube = REL.revenue_cube(orders).collect()
    total_row = [r for r in cube if r.g_year == 1 and r.g_status == 1]
    assert len(total_row) == 1
    exact = orders.agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert total_row[0].revenue == exact.rev
    assert total_row[0].n_orders == exact.n
    # the (year) slice and the (status) slice each partition all orders
    for gy, gs in ((0, 1), (1, 0)):
        n = sum(r.n_orders for r in cube if r.g_year == gy and r.g_status == gs)
        assert n == exact.n


def test_market_share_sums_to_one(spark, sf_dir):
    shares = REL.market_share(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    ).collect()
    assert shares, "expected at least one (year, nation) share row"
    by_year: dict[int, float] = {}
    for r in shares:
        assert 0.0 <= r.mkt_share <= 1.0
        by_year[r.order_year] = by_year.get(r.order_year, 0.0) + r.mkt_share
    for year, s in by_year.items():
        assert abs(s - 1.0) < 1e-4, (year, s)


def test_profile_columns_known_values(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(a="x", b=1),
            Row(a="x", b=None),
            Row(a=None, b=2),
            Row(a="y", b=2),
        ]
    )
    got = {r.column_name: r for r in REL.profile_columns(df, ["a", "b"]).collect()}
    assert got["a"].n_rows == 4 and got["a"].n_null == 1 and got["a"].n_distinct == 2
    assert got["b"].n_rows == 4 and got["b"].n_null == 1 and got["b"].n_distinct == 2


def test_kmv_exact_when_k_covers_distincts(spark, sf_dir):
    """With k >= the true distinct count the KMV sketch keeps every hash,
    so the m < k branch returns the EXACT distinct count."""
    ev = load_table(spark, sf_dir, "events")
    kmv = {r.event_type: r for r in REL.distinct_kmv_stats(
        ev, key="event_type", count_col="user_id", k=100_000).collect()}
    exact = {r.event_type: r for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("nd")).collect()}
    assert set(kmv) == set(exact)
    for et, e in exact.items():
        assert kmv[et].n_rows == e.n
        assert kmv[et].kmv_distinct == e.nd


def test_kmv_all_null_group_emits_zero_estimate(spark):
    """A group whose count_col is entirely NULL has a counts row but no
    hashes (the build stage filters NULLs); it must surface with estimate
    0 — matching the HLL sibling — not vanish from the output (the inner
    join in kmv_finalize silently dropped it; ADVICE r12)."""
    df = spark.createDataFrame(
        [("a", "u1"), ("a", "u2"), ("a", None), ("b", None), ("b", None)],
        ["grp", "uid"],
    )
    kmv = {r.grp: r for r in REL.distinct_kmv_stats(
        df, key="grp", count_col="uid", k=8).collect()}
    assert set(kmv) == {"a", "b"}, "all-NULL group dropped from KMV output"
    assert kmv["b"].n_rows == 2 and kmv["b"].kmv_distinct == 0
    assert kmv["a"].n_rows == 3 and kmv["a"].kmv_distinct == 2
    # parity with the HLL sibling it replaced in the catalog
    hll = {r.grp: r for r in REL.distinct_sketch_stats(
        df, key="grp", count_col="uid").collect()}
    assert set(hll) == {"a", "b"} and hll["b"].approx_distinct == 0


def test_kmv_estimator_error_bounds(spark, sf_dir):
    """With k << distincts the (k-1)*2^60/h_k estimator engages; KMV's
    published relative standard error is ~1/sqrt(k-2) (Bar-Yossef et
    al.), so bound at 5 sigma — deterministic given md5 hashing."""
    ev = load_table(spark, sf_dir, "events")
    k = 64
    kmv = {r.event_type: r.kmv_distinct for r in REL.distinct_kmv_stats(
        ev, key="event_type", count_col="user_id", k=k).collect()}
    exact = {r.event_type: r.nd for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd")).collect()}
    for et, nd in exact.items():
        assert abs(kmv[et] - nd) <= max(2, 5.0 / (k - 2) ** 0.5 * nd), (
            f"{et}: KMV estimate {kmv[et]} vs exact {nd}"
        )


def test_kmv_merge_equals_single_pass(spark, sf_dir):
    """Mergeability, the property the streaming twin rides on: bottom-k
    of the union of per-split bottom-k sets EQUALS the single-pass
    bottom-k — estimates identical, not close.  Also pins partition
    invariance (same identity, different physical split)."""
    ev = load_table(spark, sf_dir, "events")
    k = 16
    single = sorted(map(tuple, REL.distinct_kmv_stats(
        ev, key="event_type", count_col="user_id", k=k).collect()))

    # split by event_id parity, sketch each half, merge hash sets
    left = ev.filter(F.col("event_id") % 2 == 0)
    right = ev.filter(F.col("event_id") % 2 == 1)
    parts = REL.kmv_bottom_hashes(left, "event_type", "user_id", k=k).union(
        REL.kmv_bottom_hashes(right, "event_type", "user_id", k=k)
    ).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    bottom = parts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k).drop("rk")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    merged = sorted(map(tuple, REL.kmv_finalize(
        bottom, counts, "event_type", k).collect()))
    assert merged == single

    for parts_n in (1, 7, 32):
        got = sorted(map(tuple, REL.distinct_kmv_stats(
            ev.repartition(parts_n), key="event_type", count_col="user_id",
            k=k).collect()))
        assert got == single
