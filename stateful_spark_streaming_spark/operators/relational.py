"""Relational surface — the query capabilities the reference gets "for free"
via its snapshot-view + arbitrary-SQL hook (StreamWithStates.scala:46-49,
"you can do any SQL you want here"), realized as first-class Catalyst plans.

The reference itself only ever runs ``SELECT *`` (SURVEY §2.6 Q1); everything
here is the generalized surface: joins, multi-row aggregation, grouping sets,
window ranking, set ops, semi/anti joins, string/date/JSON functions.

Scale notes (100 TB discipline):
- dimension joins (region/nation/supplier/part) are explicitly broadcast —
  no shuffle of the fact table for a kilobyte-scale dim;
- fact-fact joins (orders⋈lineitem) shuffle on the join key once; AQE handles
  skew splits at runtime;
- every filter is expressed on base columns before joins so Catalyst pushes
  it into the parquet scan (verify via .explain → PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-style pricing summary: one shuffle, map-side partial aggs."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def shipping_priority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3-style: filter-pushdown on all three scans, then two shuffles
    (customer side broadcastable at dim-like selectivity)."""
    c = customer.filter(F.col("c_mktsegment") == "BUILDING")
    o = orders.filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    l = lineitem.filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5-style: snowflake join; all dims broadcast, facts shuffle once."""
    dims = (
        broadcast(nation)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(broadcast(dims), F.col("s_nationkey") == dims.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6-style: pure scan-filter-agg; every predicate reaches parquet."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def returns_rollup(lineitem: DataFrame) -> DataFrame:
    """GROUP BY ROLLUP — grouping-set aggregation (absent in the reference,
    SURVEY §2.7)."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def priority_top_orders(orders: DataFrame, per_group: int = 3) -> DataFrame:
    """Window ranking: top-N orders by totalprice within each priority."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank_in_priority", F.row_number().over(w))
        .filter(F.col("rank_in_priority") <= per_group)
        .select("o_orderpriority", "rank_in_priority", "o_orderkey", "o_totalprice")
    )


def customers_without_recent_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti join — customers with no order in the trailing window.  The
    filtered order side stays small, so Catalyst broadcasts the build side."""
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
    return customer.join(
        recent, customer.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def segment_set_ops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one plan: custkeys in BUILDING or
    AUTOMOBILE, intersected with high-balance custkeys, minus big spenders."""
    b = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    a = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        b.union(a)
        .intersect(rich)
        .exceptAll(big.distinct())
        .withColumnRenamed("c_custkey", "custkey")
    )


def monthly_revenue(orders: DataFrame) -> DataFrame:
    """Date bucketing: month-truncated revenue series."""
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


def order_stats_conditional(orders: DataFrame) -> DataFrame:
    """Conditional aggregation (CASE/FILTER) + distinct aggregates."""
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias(
            "n_big"
        ),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


def part_text_functions(part: DataFrame) -> DataFrame:
    """String function surface: case, substring, concat, like, regexp."""
    return part.select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
    )


def events_json_extract(events: DataFrame) -> DataFrame:
    """Semi-structured surface: JSON payload field extraction (events.props)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "event_type",
    )


def approx_distinct_stats(
    df: DataFrame, key: str, value_col: str, count_col: str, rsd: float = 0.02
) -> DataFrame:
    """Sketch-based aggregate: HyperLogLog++ distinct counts and t-digest
    percentiles per group — constant state per group regardless of input
    size, the only viable shape for distincts/percentiles at 100 TB.
    Approximate by construction (pytest bounds the relative error vs the
    exact forms; no cross-engine oracle since estimators differ)."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(count_col, rsd=rsd).alias("approx_distinct"),
        F.round(
            F.percentile_approx(value_col, 0.5, 10_000), 4
        ).alias("approx_p50"),
        F.round(
            F.percentile_approx(value_col, 0.99, 10_000), 4
        ).alias("approx_p99"),
    )


def distinct_sketch_stats(
    df: DataFrame, key: str, count_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group distinct counting via Apache DataSketches HLL — the
    MERGEABLE sibling of ``approx_distinct_stats``.  The difference that
    matters at 100 TB: ``approx_count_distinct``'s HLL++ state is an
    internal buffer you can never get out of a query, while
    ``hll_sketch_agg`` emits a PUBLIC binary sketch whose union is
    register-wise max — associative, commutative, idempotent — so
    partials computed per ingest batch / per partition / per day union
    into exactly the sketch a single global pass builds (estimates are
    EQUAL, not just close; pytested, and the property the streaming
    ingest twin rides on).  Public recipe: the Apache DataSketches HLL
    paper set; Spark exposes it as hll_sketch_agg/hll_union_agg since
    3.5."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_estimate(F.hll_sketch_agg(count_col, F.lit(lg_k)))
        .cast("long")
        .alias("approx_distinct"),
    )


def kmv_bottom_hashes(
    df: DataFrame, key: str, count_col: str, k: int = 256, salt_buckets: int = 16
) -> DataFrame:
    """Bottom-k (KMV) sketch BUILD stage: the k smallest DISTINCT
    md5-derived 60-bit hashes of ``count_col`` per ``key`` — the
    mergeable core shared by the batch estimator and the streaming
    per-batch partial.

    Hash: first 15 hex chars of md5(value) as a long — the repo-standard
    ``md5_h60`` recipe (``dedup.py:910``), chosen because DuckDB
    reproduces it verbatim (``('0x' || substring(md5(x),1,15))::BIGINT``),
    which is what makes the DOWNSTREAM ESTIMATE oracle-exact, not
    rows-only — the same move that made MinHash, SRP-LSH, and CMS
    hash-checkable.  The cast-to-string must itself render identically
    in both engines, which holds for INTEGER and STRING ``count_col``
    (the catalog shape); float/timestamp columns format differently
    across engines — the sketch still works, but stringify such columns
    yourself before counting if you need the cross-engine oracle.

    Scale shape: distinct (key, hash) is one spillable hash aggregate;
    the bottom-k is then TWO-LEVEL (local row_number per (key, salt) with
    salt = hash mod ``salt_buckets``, then global per key over at most
    ``salt_buckets * k`` survivors) so no single task ever sorts a hot
    key's full distinct set (two-phase salted top-N with the order
    inverted).  Exact: every global bottom-k hash is in its salt bucket's
    bottom-k, so the composition equals a single global pass.  Never
    ``collect_set`` of all distincts (unbounded per-group state).
    """
    h = F.conv(
        F.substring(F.md5(F.col(count_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashes = (
        df.filter(F.col(count_col).isNotNull())
        .select(key, h.alias("h"))
        .distinct()
    )
    salt = F.pmod(F.col("h"), F.lit(salt_buckets))
    w_local = Window.partitionBy(F.col(key), salt).orderBy(F.col("h").asc())
    local = (
        hashes.withColumn("__rk", F.row_number().over(w_local))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
    w_global = Window.partitionBy(key).orderBy(F.col("h").asc())
    return (
        local.withColumn("__rk", F.row_number().over(w_global))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def kmv_finalize(
    bottom: DataFrame, counts: DataFrame, key: str, k: int
) -> DataFrame:
    """KMV ESTIMATE stage over bottom-k hash rows (``kmv_bottom_hashes``
    output or a merged union of partials — bottom-k of a union of
    per-partial bottom-ks equals the global bottom-k, which is the
    mergeability proof the streaming twin rides on).

    Estimator (Bar-Yossef et al., "Counting distinct elements in a data
    stream", RANDOM 2002): with m = |hashes kept| and h_k = the k-th
    smallest 60-bit hash, estimate = m exactly when m < k (the sketch
    saw every distinct value), else floor((k-1) * 2^60 / h_k).  The
    double arithmetic is IEEE-identical in Spark and DuckDB (k-1 and
    2^60 are exact doubles; long→double narrowing is round-to-nearest in
    both), and ``floor`` (NOT round / NOT cast-to-int, whose .5 and
    truncation semantics differ across engines) makes the estimate
    hash-match cross-engine — the oracle re-derives the estimator, not
    just the rows.

    LEFT join from ``counts``: a group whose ``count_col`` is entirely
    NULL has a counts row but zero hashes (the build stage filters
    NULLs), and must surface with estimate 0 — the HLL sibling emits
    such groups, and an inner join here silently dropped them (ADVICE
    r12).  The catalog oracle mirrors this with the same LEFT JOIN +
    COALESCE.
    """
    sk = bottom.groupBy(key).agg(
        F.count(F.lit(1)).alias("__m"), F.max("h").alias("__hk")
    )
    est = F.when(F.col("__m") < k, F.col("__m")).otherwise(
        F.floor(
            F.lit(float(k - 1)) * F.lit(2.0**60) / F.col("__hk").cast("double")
        )
    )
    return (
        counts.join(sk, key, "left")
        .withColumn("kmv_distinct", F.coalesce(est, F.lit(0)).cast("long"))
        .drop("__m", "__hk")
    )


def distinct_kmv_stats(
    df: DataFrame, key: str, count_col: str, k: int = 256
) -> DataFrame:
    """Per-group distinct counting via a bottom-k (KMV) sketch with
    md5-derived hashes — the ORACLE-EXACT mergeable sibling of
    ``distinct_sketch_stats``.  Same mergeability story as the
    DataSketches HLL form (union of per-batch bottom-k sets, then
    bottom-k again, equals one global pass — set union is associative /
    commutative / idempotent), but every step is plain SQL a second
    engine can re-derive: md5, substring, hex→int, window bottom-k,
    one floor'd double division.  The HLL operator stays as the engine
    surface for when sketch BYTES must be stored (2^lg_k registers vs
    k longs); this is the form the correctness gate can hash-check.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    bottom = kmv_bottom_hashes(df, key, count_col, k=k)
    return kmv_finalize(bottom, counts, key, k)


def revenue_cube(orders: DataFrame) -> DataFrame:
    """GROUP BY CUBE over (order year, order status): all four grouping
    sets in one pass.  Spark expands rows per grouping set BEFORE the
    map-side partial aggregate, so the shuffle still carries only partial
    aggregates — one exchange total, same as a plain groupBy.  grouping()
    markers disambiguate "rolled-up" NULLs from data NULLs (absent in the
    reference; SURVEY §2.7 grouping-sets gap)."""
    o = orders.withColumn("order_year", F.year("o_orderdate").cast("int"))
    return o.cube("order_year", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("order_year").cast("int").alias("g_year"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
    )


def market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    region_name: str = "ASIA",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8-style national market share: the share of a region's
    revenue supplied by each nation, per year.  Snowflake join with every
    dimension broadcast (part is filtered to one type first, so even at
    100 TB the broadcast side is the filtered dim, not the fact); the
    only fact shuffle is lineitem><orders, then a single window over the
    per-(year, nation) aggregate computes the share."""
    p = broadcast(part.filter(F.col("p_type") == part_type))
    cust_nations = (
        broadcast(nation)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == region_name)
        .select(F.col("n_nationkey").alias("cust_nationkey"))
    )
    supp_nation = broadcast(
        nation.select(
            F.col("n_nationkey").alias("supp_nationkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    joined = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            broadcast(cust_nations),
            F.col("c_nationkey") == F.col("cust_nationkey"),
        )
        .join(supp_nation, F.col("s_nationkey") == F.col("supp_nationkey"))
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        .withColumn("volume", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    )
    per_nation = joined.groupBy("order_year", "supp_nation").agg(
        F.sum("volume").alias("nation_volume")
    )
    w = Window.partitionBy("order_year")
    return per_nation.select(
        "order_year",
        "supp_nation",
        F.round("nation_volume", 2).alias("nation_revenue"),
        F.round(
            F.col("nation_volume") / F.sum("nation_volume").over(w), 6
        ).alias("mkt_share"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts in ONE pass.

    All columns' aggregates ride a single agg — Spark plans the
    multi-distinct via one Expand (rows replicated per distinct-column)
    feeding a pair of hash aggregates, so the cost is one shuffle of
    partial aggregates regardless of how many columns are profiled, not
    one job per column.  Output is long-format (a row per column) so
    downstream checks can join/filter on it.  Profile-before-train is the
    standard pipeline-health gate at 100 TB: null spikes and cardinality
    collapses are cheaper to catch here than after a failed run."""
    # positional aliases + Column references (df[c]) so column names with
    # spaces/quotes/dots never reach a SQL parser or an alias
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(df[c].isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nulls_{i}")
        )
        aggs.append(F.countDistinct(df[c]).alias(f"__distinct_{i}"))
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__nulls_{i}").alias("n_null"),
                F.col(f"__distinct_{i}").alias("n_distinct"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        wide.select(F.col("__n_rows").alias("n_rows"), F.explode(entries).alias("e"))
        .select("e.column_name", "n_rows", "e.n_null", "e.n_distinct")
    )


def order_priority_checking(
    orders: DataFrame, lineitem: DataFrame, late_days: int = 60
) -> DataFrame:
    """TPC-H Q4-shape: per order priority, how many orders have at least
    one line item shipped more than ``late_days`` after the order date —
    the EXISTS-subquery pattern as a LEFT SEMI join whose condition mixes
    the equi-key with a cross-table inequality.

    Scale shape: both sides shuffle ONCE on the order key (the inequality
    evaluates inside the sort-merge join, never as a post-join filter over
    a wider intermediate); lineitem is pruned to two columns at the scan
    (ReadSchema), and the semi join emits each order at most once, so the
    final priority aggregate sees |orders| rows max, not |lineitem|."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {int(late_days)} DAYS"
    )
    o = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    flagged = o.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        (o["o_orderkey"] == F.col("l_orderkey")) & late,
        "left_semi",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: float = 250.0,
) -> DataFrame:
    """TPC-H Q18-shape: customers who placed an order whose TOTAL line
    quantity reaches ``min_qty`` — the agg-then-join pattern where the
    qualifying set is tiny by construction (the extreme tail of the
    per-order quantity distribution).

    Scale shape: ONE shuffle total — the per-order quantity aggregate.
    The qualifying orders are explicitly broadcast into ``orders`` and the
    enriched result (still tail-sized) broadcast into ``customer``, so
    neither big table ever re-shuffles; raising ``min_qty`` with scale is
    what keeps the broadcast sides bounded (it is a top-tail query, not a
    general join)."""
    qualified = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") >= min_qty)
    )
    big = orders.join(
        broadcast(qualified), orders["o_orderkey"] == qualified["l_orderkey"]
    ).drop("l_orderkey")
    return customer.join(
        broadcast(big), customer["c_custkey"] == big["o_custkey"]
    ).select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_totalprice",
        "sum_qty",
    )


def top_supplier(
    supplier: DataFrame,
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shape: the supplier(s) with maximum revenue in a quarter
    — the agg-then-argmax-join pattern (create view revenue; select where
    total = (select max)).

    Scale shape: the revenue aggregate shuffles lineitem once and is then
    PINNED via ``track_persist`` because the plan consumes it twice (once
    for the global max, once as the probe side) — without the pin a 100 TB
    lineitem would be scanned twice.  The max is a single-row broadcast;
    supplier names attach via broadcast; ties all surface (same semantics
    both engines: comparison happens on the already-rounded revenue)."""
    from stateful_spark_streaming_spark.caching import track_persist

    rev = track_persist(
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start)) & (F.col("l_shipdate") < F.lit(end))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    top = rev.join(
        broadcast(rev.agg(F.max("total_rev").alias("max_rev"))),
        F.col("total_rev") == F.col("max_rev"),
    ).drop("max_rev")
    return top.join(
        broadcast(supplier.select("s_suppkey", "s_name")),
        top["l_suppkey"] == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "total_rev")


def fuzzy_name_pairs(df: DataFrame, col: str = "p_name", max_dist: int = 2) -> DataFrame:
    """Similarity self-join: all DISTINCT-value pairs within Levenshtein
    distance ``max_dist`` (≤2), without an all-pairs product.

    Candidate generation is the FastSS deletion neighborhood: if
    lev(x, y) ≤ k then x and y share at least one ≤k-deletion variant
    (delete the edited positions), so exploding each string into its
    1 + L + L(L−1)/2 variants and equi-joining on the variant hash is a
    COMPLETE filter — false positives are removed by the exact
    ``levenshtein`` verify, false negatives are impossible.  Join fan-out
    is bounded by values sharing a variant (a length/content block), never
    |values|²; the variant key is an 8-byte xxhash64, so the shuffle never
    carries the variant strings.  (Production note: very short strings
    collapse toward the empty variant — pre-partition by length band or
    floor the variant length if the dictionary has many ≤k-char entries.)
    """
    if max_dist not in (1, 2):
        raise ValueError("fuzzy_name_pairs supports max_dist 1 or 2")
    names = df.select(F.col(col).alias("name")).distinct()
    d1 = (
        "transform(sequence(1, length(name)), i -> "
        "concat(substring(name, 1, i-1), substring(name, i+1, length(name))))"
    )
    if max_dist == 2:
        d2 = (
            "flatten(transform(sequence(1, length(name)), i -> "
            "transform(sequence(i+1, length(name)), j -> "
            "concat(substring(name, 1, i-1), substring(name, i+1, j-i-1), "
            "substring(name, j+1, length(name))))))"
        )
        variants = F.expr(f"array_distinct(concat(array(name), {d1}, {d2}))")
    else:
        variants = F.expr(f"array_distinct(concat(array(name), {d1}))")
    exploded = names.select(
        "name", F.explode(variants).alias("__v")
    ).select("name", F.xxhash64("__v").alias("__vh"))
    a = exploded.select(F.col("name").alias("name_a"), "__vh")
    b = exploded.select(F.col("name").alias("name_b"), "__vh")
    return (
        a.join(b, "__vh")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn("lev", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev") <= max_dist)
    )


def important_parts(
    lineitem: DataFrame, mean_multiple: float = 1.25
) -> DataFrame:
    """TPC-H Q11-shape: parts whose total line value exceeds a multiple
    of the MEAN part value — the share-of-total HAVING pattern (group agg
    compared against a scalar aggregate over the same relation).  The
    mean-relative threshold is scale-invariant: Q11's fixed
    fraction-of-total empties out as the part count grows, while "k× the
    average part" keeps a stable tail at any SF.

    Scale shape: the per-part value aggregate is computed once and PINNED
    (the plan consumes it twice: scalar reduction + probe side);
    the threshold is a single-row broadcast, so the second pass is a
    map-only filter.  Without the pin a 100 TB lineitem would be scanned
    and aggregated twice."""
    from stateful_spark_streaming_spark.caching import track_persist

    value = track_persist(
        lineitem.groupBy("l_partkey").agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("part_value")
        )
    )
    thr = value.agg(
        (F.avg("part_value") * F.lit(mean_multiple)).alias("__thr")
    )
    return (
        value.join(broadcast(thr), F.col("part_value") > F.col("__thr"))
        .select("l_partkey", "part_value")
    )


def parts_supplier_counts(
    part: DataFrame, supplier: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q16-shape: distinct supplier count per (brand, type, size),
    excluding blocklisted suppliers (NOT IN ⇒ broadcast ANTI join — here
    the deterministic blocklist is negative-balance suppliers).

    Scale shape: the anti join and the part-attribute join are both
    broadcast (kilobyte dims); lineitem — the part↔supplier bridge —
    shuffles ONCE for the distinct aggregate.  The (l_partkey, l_suppkey)
    projection is deduplicated BEFORE the attribute join so the shuffle
    carries bridge pairs, not line items."""
    blocked = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    bridge = (
        lineitem.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            broadcast(blocked),
            F.col("l_suppkey") == blocked["s_suppkey"],
            "left_anti",
        )
    )
    return (
        bridge.join(
            broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            bridge["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, big_order_threshold: float = 300_000.0
) -> DataFrame:
    """TPC-H Q22-shape: per nation, the count and total balance of
    customers whose balance beats the positive-balance average but who
    never placed a big order — scalar aggregate subquery + ANTI join.

    Scale shape: the average is a single-row broadcast (cross-join of a
    1-row frame); the big-order key set is filtered BEFORE the anti join
    so AQE broadcasts it; customer never shuffles until the final tiny
    per-nation aggregate."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    rich = customer.join(
        broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg")
    ).drop("__avg")
    big = orders.filter(F.col("o_totalprice") > big_order_threshold).select(
        "o_custkey"
    )
    idle = rich.join(big, rich["c_custkey"] == big["o_custkey"], "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


def expectations_report(
    df: DataFrame, checks: list[tuple[str, "F.Column"]], key_col: str | None = None
) -> DataFrame:
    """Declarative data-quality gate (the deequ/Great-Expectations shape):
    evaluate every row-level expectation in ONE aggregation pass and
    return long-format results — (check, n_rows, n_violations, passed).
    ``checks`` are (name, boolean Column) pairs where the column is TRUE
    when the row satisfies the expectation; a NULL predicate result
    counts as a violation (unknown ≠ satisfied).  ``key_col`` adds a
    uniqueness expectation on that column — the one check a row predicate
    can't express — computed in the SAME pass via count vs distinct
    count, not a self-join.

    Scale shape: a single full-scan hash aggregate (map-side partials,
    one reduce to a 1-row frame) regardless of how many expectations are
    declared — never one job per check; the explode to long format
    happens on the 1-row result."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = []
    for i, (name, pred) in enumerate(checks):
        names.append(name)
        aggs.append(
            F.sum(
                F.when(pred.isNull() | ~pred, 1).otherwise(0)
            ).cast("long").alias(f"__v_{i}")
        )
    if key_col is not None:
        names.append(f"unique({key_col})")
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(F.col(key_col)))
            .cast("long")
            .alias(f"__v_{len(checks)}")
        )
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(n).alias("check"),
                F.col(f"__v_{i}").alias("n_violations"),
            )
            for i, n in enumerate(names)
        ]
    )
    return (
        wide.select(F.col("__n").alias("n_rows"), F.explode(entries).alias("e"))
        .select(
            "e.check",
            "n_rows",
            "e.n_violations",
            (F.col("e.n_violations") == 0).alias("passed"),
        )
    )
