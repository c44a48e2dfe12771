"""Plane B analytics surface (SURVEY.md §2.3-2.9).

The reference delegates analytics to DuckDB SQL over its Parquet lake
(reference README.md:81-115); this module owns that query surface natively
in Spark.  Each builder is a declarative DataFrame plan — Catalyst handles
predicate pushdown, column pruning, join strategy selection, and AQE
handles runtime re-planning — and each is registered with a DuckDB oracle
twin whose result must hash-match exactly.

Scale notes are attached per-query: which joins broadcast, where shuffles
land, and why the plan survives a 1000-executor / 100 TB deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from discogs_etl_spark.queries._oracle_sql import SESSION_GAP_S, sessions_sql
from discogs_etl_spark.queries._util import (
    davg,
    dec,
    dsum,
    epoch,
    fixed,
    memo_cache,
    sql_davg,
    sql_dsum,
)
from discogs_etl_spark.registry import register
from discogs_etl_spark.session import local_frame, scoped_conf
from discogs_etl_spark.tables import load


# ---------------------------------------------------------------------------
# Scans / filters / projections / limits  (§2.3, §2.7)
# ---------------------------------------------------------------------------

@register(
    "flagship_scan_filter_limit",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE list_contains(string_split(text, ' '), 'spark')
          AND len(string_split(text, ' ')) > 50
        ORDER BY doc_id
        LIMIT 20
    """,
    tags=("scan", "filter", "limit", "array"),
    bench=True,
)
def flagship_scan_filter_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README flagship query shape (reference README.md:84-87):
    array-contains predicate + array-length predicate + LIMIT, re-aimed at
    the fixtures' documents table.

    Scale: filter + limit is map-only; Spark plans TakeOrderedAndProject,
    so only 20 rows per partition ever reach the driver."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        docs.where(F.array_contains(toks, "spark") & (F.size(toks) > 50))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .limit(20)
    )


@register(
    "scan_project_filter",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_totalprice > 400000.0 AND o_orderstatus = 'O'
    """,
    tags=("scan", "filter", "projection"),
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate scan (§2.3 P8/P9).  Both predicates and the
    3-column projection push into the Parquet scan (PushedFilters /
    ReadSchema) — at 100 TB this reads a fraction of the bytes."""
    return (
        load(spark, sf_dir, "orders")
        .where((F.col("o_totalprice") > 400000.0) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "sort_topk_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("sort", "topk"),
    bench=True,
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by measure (§2.7).  Spark plans TakeOrderedAndProject: each
    task keeps a k-row heap, no global sort shuffle."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Aggregations  (§2.5)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            {sql_dsum('l_quantity')} AS sum_qty,
            {sql_dsum('l_extendedprice')} AS sum_base_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
                     * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
            {sql_davg('l_quantity')} AS avg_qty,
            {sql_davg('l_extendedprice')} AS avg_price,
            {sql_davg('l_discount', 6)} AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "groupby"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical wide aggregation.

    Scale: partial (map-side) aggregation reduces each partition to ≤6
    group rows before the shuffle — the shuffle moves O(groups), not
    O(rows), at any data size."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    # price·(1−disc)·(1+tax) in integer fixed point (scales 4 and 6): the
    # exact rationals the oracle's DECIMAL products produce, but summed in
    # a primitive long hash-agg buffer — measured 6x faster than decimal.
    disc_price_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    charge_fp = disc_price_fp * (F.lit(100) + fixed("l_tax", 2))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            (F.sum(disc_price_fp).cast("double") / 1e4).alias("sum_disc_price"),
            (F.sum(charge_fp).cast("double") / 1e6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_rollup_lineitem",
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            COUNT(*) AS n_items,
            {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (§2.5 engine contract)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "agg_cube_orders",
    oracle=f"""
        SELECT
            o_orderstatus,
            o_orderpriority,
            COUNT(*) AS n_orders,
            {sql_dsum('o_totalprice')} AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims (§2.5 engine contract)."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


@register(
    "agg_distinct_parts_per_flag",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_supps
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def agg_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi distinct-aggregation (§2.5): Catalyst plans the expand +
    two-phase aggregate; exact distinct (the approx variant is a separate
    rows-only query since HLL sketches are engine-specific)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@register(
    "agg_approx_distinct",
    # HLL sketch values are engine-specific, so the query verifies ITSELF:
    # it emits the exact distinct count plus a deterministic boolean (as INT)
    # asserting the sketch landed within 5× the configured rsd.  Both output
    # columns are exact and DuckDB-expressible, so the driver gets a real
    # value-hash check instead of a rows-only pass.
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               1 AS within_rsd
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale substitute
    for exact COUNT(DISTINCT): no expand, fixed-size sketch per group.

    Self-verifying form: the approx value itself is sketch-internal, so the
    emitted columns are the exact count and ``within_rsd`` = 1 iff the HLL
    estimate is within 5 % of exact (5× the rsd=0.01 bound — far outside
    HLL++'s observed error at these cardinalities, so deterministic)."""
    # r18: dedup to distinct (flag, partkey) pairs FIRST, then count and
    # sketch over the deduped stream.  Mixing countDistinct with
    # approx_count_distinct in one agg makes the distinct-rewrite carry
    # a merge-HLL buffer per (flag, partkey) GROUP — ~60k rsd=0.01
    # sketches churned through both aggregation levels (the executed
    # plan showed merge_approx_count_distinct keyed by the pair).  HLL
    # register updates are idempotent, so sketching each distinct value
    # once yields the IDENTICAL registers and estimate; the exact count
    # is count(*) of the deduped pairs.  4.3 → ~1.6 s at sf0.1.
    dist = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_partkey")
        .distinct()
    )
    # count(l_partkey), not count(*): a (flag, NULL) pair would survive
    # the distinct but was excluded by the pre-r18 countDistinct — the
    # null-skipping count keeps the old semantics for free instead of
    # leaning on the fixtures never carrying a NULL partkey (r18 ADVICE).
    exact = F.count("l_partkey")
    approx = F.approx_count_distinct("l_partkey", rsd=0.01)
    return dist.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (F.abs(approx - exact) / exact <= 0.05).cast("int").alias("within_rsd"),
    )


@register(
    "agg_variance_price",
    oracle=f"""
        SELECT
            o_orderstatus,
            COUNT(*) AS n,
            {sql_dsum('o_totalprice')} AS s1,
            round(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                  / COUNT(*), 2) AS mean_sq,
            round((CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1), 3) AS var_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg", "stats"),
)
def agg_variance_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance via exact sufficient statistics (decimal Σx, Σx²) so the
    result is accumulation-order independent — the deterministic twin of
    var_samp.

    Output magnitudes are bounded deliberately: at sf0.1 the raw Σx²
    (~4e15 with 4 decimal digits) exceeds what a double can carry
    exactly, and DuckDB's big-decimal→double conversion lands ~1 ulp off
    Spark's — emitting the raw sum hash-mismatched at 10x scale even
    though every derived statistic agreed.  mean-of-squares (Σx²/n,
    ~8e10) and the 3-decimal variance are representable with orders of
    magnitude of margin over that conversion error, at ANY sf."""
    s1 = dsum("o_totalprice")
    s2 = F.sum(dec("o_totalprice", 2, 12) * dec("o_totalprice", 2, 12)).cast("double")
    n = F.count(F.lit(1))
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            s1.alias("s1"),
            F.round(s2 / n, 2).alias("mean_sq"),
            F.round((s2 - s1 * s1 / n) / (n - F.lit(1)), 3).alias("var_price"),
        )
    )


# ---------------------------------------------------------------------------
# Joins  (§2.4)
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT
            l_orderkey,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
            o_orderdate,
            o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + top-k.

    Scale: customer (filtered on segment) broadcasts; orders⋈lineitem is
    the one real shuffle, on the join key both sides already share.  The
    date filters push into both Parquet scans before the join."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    revenue_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(revenue_fp).cast("double") / 1e4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# Scoped confs for the runtime bloom-filter demonstration: injection is
# gated by an application-side scan-size threshold (10 GB by default —
# correct for production, unreachable at fixture scale), so the query
# lowers it, and disables broadcast so the join actually shuffles (a
# broadcast join needs no runtime filter).  Confs are RESTORED before the
# builder returns; the result is materialized (eager localCheckpoint)
# while they are active.
_BLOOM_RUNTIME_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed plan behind join_bloom_runtime_filter (split
    out so the plan test can explain() it under the bloom confs)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    revenue_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(revenue_fp).cast("double") / 1e4).alias("revenue"),
        )
    )


@register(
    "join_bloom_runtime_filter",
    oracle="""
        SELECT l_linestatus, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        GROUP BY l_linestatus
    """,
    tags=("join", "bloom_filter", "runtime_filter"),
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join accelerated by a RUNTIME BLOOM FILTER: the selective
    orders predicate builds a bloom sketch (bloom_filter_agg over the
    build-side keys), which is pushed into the lineitem scan as a
    might_contain() filter — Spark's InjectRuntimeFilter, the engine's
    answer to sideways information passing.  Rows of the 100 TB fact side
    that cannot join are dropped AT THE SCAN, before the shuffle — the
    single biggest shuffle-volume lever on selective fact-dim joins that
    are too big to broadcast.

    The confs that gate injection (application-side size threshold, and
    broadcast disabled so a shuffle join exists to filter) are scoped to
    this builder: set, materialize via eager localCheckpoint, restore —
    the shared session's other plans never see them.  Correctness is
    bloom-independent (false positives are re-checked by the exact join),
    so the oracle is the plain join."""
    with scoped_conf(spark, _BLOOM_RUNTIME_CONFS):
        return _bloom_join_frame(spark, sf_dir).localCheckpoint()


@register(
    "q5_regional_revenue",
    oracle=f"""
        SELECT
            n_name,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "star"),
    bench=True,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a cross-dimension predicate
    (customer and supplier in the same nation).

    Scale: region/nation/supplier/customer are dimensions → all broadcast;
    the only shuffle is orders⋈lineitem.  Catalyst pushes r_name='ASIA'
    through the nation⋈region broadcast before any fact rows move."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(revenue_fp).cast("double") / 1e4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "join_broadcast_part_agg",
    oracle=f"""
        SELECT p_brand,
               COUNT(*) AS n_items,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    tags=("join", "broadcast", "agg"),
    bench=True,
)
def join_broadcast_part_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dimension equi-join (§2.4), no hint: the session's broadcast
    threshold ships ``part`` at fixture size, so the fact table never
    shuffles, and falls back to a sort-merge join once ``part`` outgrows
    it (20M rows at TPC-H SF100)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "join_left_order_counts",
    oracle="""
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    tags=("join", "left"),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (§2.4)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
    """,
    tags=("join", "semi"),
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — emits each matching left row once (§2.4)."""
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "anti"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) (§2.4)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer_nation_presence",
    oracle="""
        WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                   FROM customer GROUP BY c_nationkey),
             s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                   FROM supplier GROUP BY s_nationkey)
        SELECT COALESCE(c.nk, s.nk) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust,
               COALESCE(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    tags=("join", "full_outer"),
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (§2.4): nations having customers,
    suppliers, or both."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return s.join(c, c.nk == s.nk, "full_outer").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# ---------------------------------------------------------------------------
# Window functions  (§2.6)
# ---------------------------------------------------------------------------

@register(
    "window_topk_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    tags=("window", "rank"),
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ROW_NUMBER (§2.6) — the same window shape the
    reference's latest-dump-per-month selection needs (reference
    s3.py:384-386).  Spark 3.5+ pushes the rn<=3 limit into the window
    sort (WindowGroupLimit)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "window_rank_dense_rank",
    oracle="""
        SELECT p_type, p_partkey, p_retailprice,
               RANK() OVER (PARTITION BY p_type ORDER BY p_size) AS rk,
               DENSE_RANK() OVER (PARTITION BY p_type ORDER BY p_size) AS drk
        FROM part
    """,
    tags=("window", "rank"),
)
def window_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK with ties (§2.6)."""
    w = Window.partitionBy("p_type").orderBy("p_size")
    return load(spark, sf_dir, "part").select(
        "p_type",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@register(
    "window_running_total_events",
    oracle="""
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_value
        FROM events
    """,
    tags=("window", "frame"),
)
def window_running_total_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over an explicit ROWS frame (§2.6); decimal
    accumulation keeps the prefix sums order-exact on both engines."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.sum(dec("value", 6)).over(w).cast("double").alias("running_value"),
    )


@register(
    "window_lag_lead_gap",
    oracle="""
        SELECT event_id, user_id,
               LAG(event_id) OVER w AS prev_event_id,
               LEAD(event_id) OVER w AS next_event_id,
               round(epoch(ts) - epoch(LAG(ts) OVER w), 6) AS gap_sec
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag"),
)
def window_lag_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD analytics (§2.6): previous/next event and inter-event gap
    in (fractional) seconds.  timestamp→double epoch is the same
    micros/1e6 double on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.round(ep - F.lag(ep).over(w), 6).alias("gap_sec"),
    )


def _sessionize(events: DataFrame, *cols: str) -> DataFrame:
    """Gap sessionization, the Spark twin of ``sessions_sql``: user_id,
    ts, event_id and ``cols`` of ``events`` plus is_new and session_id,
    the running count of session starts in (ts, event_id) order per
    user.  An event starts a session when it is the user's first or
    follows the previous one by more than SESSION_GAP_S seconds, the
    rule ``F.session_window`` applies (tests/test_streaming.py pins the
    boundary on a crafted file).  Both windows partition by user_id, so
    they and a later per-session aggregate share one exchange."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    gap = ep - F.lag(ep).over(w)
    is_new = F.when(F.lag("ts").over(w).isNull() | (gap > float(SESSION_GAP_S)), 1)
    return events.select(
        "user_id", "ts", "event_id", *cols, is_new.otherwise(0).alias("is_new")
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


@register(
    "sessionization_events",
    oracle=f"""
        WITH {sessions_sql("value")}
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
)
def sessionization_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity boundary): the batch
    twin of a session_window stream (§2.6, §2.10).  Two stacked windows +
    one aggregate; all three shuffles share the user_id hash partitioning
    so Spark reuses a single exchange."""
    sess = _sessionize(load(spark, sf_dir, "events"), "value")
    return sess.groupBy("user_id", "session_id").agg(
        # TIMESTAMP_NTZ output: a collected TimestampType renders
        # through the Python process timezone, while NTZ collects the
        # session-TZ (UTC-pinned) wall clock as a naive datetime in any
        # process zone, the value DuckDB's naive timestamp holds.
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").cast("timestamp_ntz").alias("session_start"),
        F.max("ts").cast("timestamp_ntz").alias("session_end"),
        dsum("value", 6).alias("session_value"),
    )


@register(
    "manifest_latest_per_month",
    oracle="""
        SELECT ym, o_orderpriority AS file_type, o_orderkey AS chosen_key, o_orderdate AS chosen_date
        FROM (
            SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority, o_orderkey, o_orderdate,
                   ROW_NUMBER() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m'), o_orderpriority
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
        )
        WHERE rn = 1
    """,
    tags=("window", "argmax", "manifest"),
)
def manifest_latest_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dump-catalog op re-expressed relationally: keep the
    latest file per (year-month, type) (reference s3.py:329-424, argmax at
    384-386).  Pairwise-compare loop becomes one window + filter."""
    df = load(spark, sf_dir, "orders").withColumn(
        "ym", F.date_format("o_orderdate", "yyyy-MM")
    )
    w = Window.partitionBy("ym", "o_orderpriority").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "ym",
            F.col("o_orderpriority").alias("file_type"),
            F.col("o_orderkey").alias("chosen_key"),
            F.col("o_orderdate").alias("chosen_date"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations  (§2.8)
# ---------------------------------------------------------------------------

@register(
    "set_union_all_lineitem",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 5.0
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_extendedprice > 90000.0
    """,
    tags=("setop", "union"),
)
def set_union_all_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) of two scans (§2.8)."""
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_quantity"]
    return li.where(F.col("l_quantity") < 5.0).select(*cols).unionByName(
        li.where(F.col("l_extendedprice") > 90000.0).select(*cols)
    )


@register(
    "set_intersect_partkeys",
    oracle="""
        SELECT l_partkey FROM lineitem WHERE l_quantity < 10.0
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_extendedprice > 50000.0
    """,
    tags=("setop", "intersect"),
)
def set_intersect_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics) (§2.8)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") < 10.0)
        .select("l_partkey")
        .intersect(li.where(F.col("l_extendedprice") > 50000.0).select("l_partkey"))
    )


@register(
    "set_except_partkeys",
    oracle="""
        SELECT p_partkey FROM part
        EXCEPT
        SELECT l_partkey FROM lineitem
    """,
    tags=("setop", "except"),
)
def set_except_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: parts never ordered (§2.8)."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return part.subtract(li)


# ---------------------------------------------------------------------------
# Scalar function surface  (§2.9)
# ---------------------------------------------------------------------------

@register(
    "scalar_string_part",
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_upper,
               lower(p_type) AS type_lower,
               substr(p_name, 1, 8) AS name_prefix,
               CAST(length(p_name) AS BIGINT) AS name_len,
               concat(p_brand, ':', p_type) AS brand_type,
               regexp_extract(p_name, '([0-9]+)', 1) AS first_num,
               replace(p_type, 'A', '@') AS type_repl,
               trim('  pad  ') AS trimmed
        FROM part
    """,
    tags=("scalar", "string"),
)
def scalar_string_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (§2.9: trim/lower/substr/regex of reference
    utils.py:21-24, s3.py:345-346)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", r"([0-9]+)", 1).alias("first_num"),
        F.translate("p_type", "A", "@").alias("type_repl"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
    )


@register(
    "scalar_date_orders",
    oracle="""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(month(o_orderdate) AS BIGINT) AS order_month,
               CAST(day(o_orderdate) AS BIGINT) AS order_day,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
               CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch0
        FROM orders
    """,
    tags=("scalar", "date"),
)
def scalar_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface (§2.9: yyyyMMdd parse/format of reference
    s3.py:416)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch0"),
    )


@register(
    "scalar_json_events",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """,
    tags=("scalar", "json"),
)
def scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a string column (§2.9; fixtures' events.props)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "scalar_hash_customer",
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS name_md5,
               sha256(c_name) AS name_sha256
        FROM customer
    """,
    tags=("scalar", "hash"),
)
def scalar_hash_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash surface (§2.9: reference checksum verification,
    process.py:117-127, io.py:181-192)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
    )


@register(
    "scalar_array_embeddings",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
               round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
        FROM embeddings
    """,
    tags=("scalar", "array", "vector"),
)
def scalar_array_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over vectors (§2.9 + Plane C S15): length,
    element access, L2 norm via in-order fold (same double accumulation
    order as DuckDB's list_dot_product)."""
    emb = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(emb, emb, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(emb, 1), 6).alias("first_val"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
    )


@register(
    "events_hourly_agg",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value', 6)} AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("agg", "time", "window"),
    bench=True,
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time aggregation — the batch expression of the
    Structured Streaming windowed agg (§2.10); group key is
    date_trunc('hour') so the same query runs under readStream +
    watermark unchanged (see streaming module)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            # NTZ output: process-TZ-independent collect (r7 TZ audit);
            # hour bucketing itself stays session-TZ (contract-pinned UTC).
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# Extended Plane B surface: grouping sets, pivot/unpivot, join variants,
# ordered-arg aggregates, percentiles, lateral explode, URL/map/conditional
# scalar functions  (§2.4-2.9 engine contract)
# ---------------------------------------------------------------------------

@register(
    "agg_grouping_sets_events",
    oracle=f"""
        SELECT event_type, user_id % 10 AS user_bucket,
               COUNT(*) AS n, {sql_dsum('value', 6)} AS sum_value
        FROM events
        GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
    """,
    tags=("agg", "grouping_sets", "sql"),
)
def agg_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the engine's SQL text surface (§2.5): the lake is
    queryable with spark.sql directly, not only through builders."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, user_id % 10 AS user_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        """
    )


@register(
    "pivot_orders_status",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status (§2.5).
    Status values are declared explicitly — at scale an undeclared pivot
    forces an extra distinct-values job."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "unpivot_part_measures",
    oracle="""
        SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) FROM part
    """,
    tags=("unpivot", "melt"),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt wide measures into (measure, val) rows (§2.5)."""
    return (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "val")
    )


@register(
    "join_right_orders_customer",
    oracle="""
        SELECT o_orderkey, c_custkey, c_mktsegment
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "right"),
)
def join_right_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (§2.4) — customers kept even with no orders."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )


@register(
    "join_cross_nation_region",
    oracle="""
        SELECT n_name, r_name FROM nation CROSS JOIN region
    """,
    tags=("join", "cross"),
)
def join_cross_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two dimensions (§2.4) — legitimate only for
    tiny sides; kept here to pin the operator, with broadcast so no
    shuffle happens."""
    nation = load(spark, sf_dir, "nation").select("n_name")
    region = load(spark, sf_dir, "region").select("r_name")
    return nation.crossJoin(F.broadcast(region))


@register(
    "agg_argmax_order_per_customer",
    oracle="""
        SELECT o_custkey,
               arg_max(o_orderpriority, o_orderkey) AS last_priority,
               arg_min(o_orderpriority, o_orderkey) AS first_priority,
               MAX(o_orderkey) AS max_orderkey
        FROM orders
        GROUP BY o_custkey
    """,
    tags=("agg", "argmax"),
)
def agg_argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by ordered-argument aggregates (§2.5): the groupBy-native
    form of the reference's latest-per-key selection (reference
    s3.py:384-386) — no window, single aggregation pass.  Ordering key is
    the unique o_orderkey so the result is deterministic."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
            F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
    )


@register(
    "agg_percentiles_price",
    oracle="""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
               round(quantile_disc(o_totalprice, 0.5), 4) AS p50_disc
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (§2.5): continuous (interpolated) and discrete.
    Both engines define these identically (NIST linear interpolation /
    lower-nearest-rank), so even doubles hash-match after rounding.
    Scale note: exact percentile sorts per group — at 100 TB swap in
    approx_percentile (t-digest) and accept the rows-only check."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.round(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 4
            ).alias("p50_disc"),
        )
    )


@register(
    "explode_tokens_positional",
    oracle="""
        SELECT doc_id, gs.i AS pos, w[gs.i + 1] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
             LATERAL (SELECT unnest(range(least(len(w), 8))) AS i) gs
    """,
    tags=("explode", "lateral", "posexplode"),
)
def explode_tokens_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode with ordinality (§2.3): first 8 tokens of each document
    with their positions — the lateral-unnest shape used everywhere in
    nested-data ETL (reference release.formats.descriptions is the
    nested-array analogue, reference schema.py:71-75)."""
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.slice(F.split("text", " "), 1, 8).alias("w"))
        .select("doc_id", F.posexplode("w").alias("pos", "token"))
    )


@register(
    "scalar_url_documents",
    oracle="""
        SELECT doc_id,
               'https://cdn.example.com/' || source || '/' || doc_id
                   || '?lang=' || lang AS url,
               'cdn.example.com' AS host,
               '/' || source || '/' || doc_id AS path,
               'lang=' || lang AS query
        FROM documents
    """,
    tags=("scalar", "url"),
)
def scalar_url_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse surface (§2.9: reference utils.py:71-85 URL detection,
    s3.py:21-38 URL dissection): build a canonical asset URL, then take it
    apart with parse_url — host/path/query come from Spark's parser, the
    oracle rebuilds them from parts."""
    url = F.concat(
        F.lit("https://cdn.example.com/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


@register(
    "scalar_map_events_props",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
               len(json_keys(props)) AS n_keys
        FROM events
    """,
    tags=("scalar", "map", "json"),
)
def scalar_map_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (§2.9): parse the JSON props into map<string,string>,
    then element_at / map_keys — the schemaless-attributes pattern."""
    m = F.from_json("props", "map<string,string>")
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.element_at(m, "k").cast("long").alias("k_val"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


@register(
    "scalar_conditional_lineitem",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'medium'
                    ELSE 'large' END AS size_class,
               COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS return_state,
               GREATEST(l_discount, l_tax) AS max_rate,
               LEAST(l_discount, l_tax) AS min_rate,
               CAST(l_discount > 0.05 AND l_tax > 0.05 AS INT) AS both_high
        FROM lineitem
    """,
    tags=("scalar", "conditional"),
)
def scalar_conditional_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar surface (§2.9): CASE/COALESCE/NULLIF/GREATEST/
    LEAST/boolean algebra — the null-default coercion family of reference
    parser.py:32,137 generalized."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias(
            "return_state"
        ),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        ((F.col("l_discount") > 0.05) & (F.col("l_tax") > 0.05)).cast("int").alias("both_high"),
    )


@register(
    "set_union_distinct_keys",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        UNION
        SELECT c_custkey FROM customer
    """,
    tags=("setop", "union_distinct"),
)
def set_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics — dedup across inputs) (§2.8)."""
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return o.unionByName(c).distinct()


@register(
    "agg_collect_sorted_genres",
    oracle="""
        SELECT lang,
               array_to_string(list_sort(list_distinct(list(source))), ',') AS sources
        FROM documents
        GROUP BY lang
    """,
    tags=("agg", "collect"),
)
def agg_collect_sorted_genres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with deterministic ordering (§2.5): array-valued
    aggregation is only oracle-comparable after an explicit sort —
    collection order is engine/partition dependent, sorted content is
    not.  Emitted as a joined string (scalar cell) because array-valued
    result cells are unhashable in the driver's canonicalizer."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"))
    )


@register(
    "subquery_correlated_scalar",
    oracle="""
        SELECT p_partkey, p_type, p_retailprice
        FROM part p
        WHERE p_retailprice > (
            SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
        )
    """,
    tags=("subquery", "correlated", "sql"),
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (parts above their type's average price)
    through the SQL surface — Catalyst decorrelates it into an aggregate +
    join, which is exactly the plan one would hand-write; no row-at-a-time
    re-execution ever happens.

    The float AVG comparison is safe un-rounded: both engines compute the
    per-type mean the same way only if accumulation order matches, BUT the
    predicate compares strictly and the fixtures' prices are well away
    from equality boundaries (verified by the hash match)."""
    load(spark, sf_dir, "part").createOrReplaceTempView("part_sq")
    return spark.sql(
        """
        SELECT p_partkey, p_type, p_retailprice
        FROM part_sq p
        WHERE p_retailprice > (
            SELECT AVG(p2.p_retailprice) FROM part_sq p2 WHERE p2.p_type = p.p_type
        )
        """
    )


@register(
    "subquery_exists_in",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
                      AND l_quantity > 45.0)
    """,
    tags=("subquery", "exists", "in", "sql"),
)
def subquery_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN + correlated EXISTS predicates via SQL — planned as a broadcast
    semi-join (nation side) plus a shuffled semi-join (lineitem side)."""
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_sq")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_sq")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier_sq
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation_sq WHERE n_regionkey = 2)
          AND EXISTS (SELECT 1 FROM lineitem_sq WHERE l_suppkey = s_suppkey
                      AND l_quantity > 45.0)
        """
    )


@register(
    "agg_boolean_countif",
    oracle="""
        SELECT event_type,
               CAST(count_if(value > 100.0) AS BIGINT) AS n_big,
               CAST(bool_and(value >= 0.0) AS INT) AS all_nonneg,
               CAST(bool_or(value > 400.0) AS INT) AS any_huge,
               MIN(event_id) AS first_event_id
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "boolean"),
)
def agg_boolean_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates (§2.5): count_if, bool_and/bool_or
    (every/any), with min as the deterministic any_value substitute.

    Driver-hash hygiene: DuckDB's count_if returns HUGEINT (reaches the
    driver's hasher as decimal128 while Spark sends int64) and raw booleans
    round-trip differently across engines, so both sides cast to
    BIGINT / INT respectively — values unchanged, representations equal."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100.0).alias("n_big"),
        F.bool_and(F.col("value") >= 0.0).cast("int").alias("all_nonneg"),
        F.bool_or(F.col("value") > 400.0).cast("int").alias("any_huge"),
        F.min("event_id").alias("first_event_id"),
    )


@register(
    "scalar_higher_order_arrays",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id,
               len(list_filter(w, x -> len(x) > 6)) AS n_long_tokens,
               list_reduce(list_prepend(0, list_transform(w, x -> len(x))),
                           (acc, x) -> acc + x) AS total_chars,
               CAST(len(list_filter(w, x -> x = 'spark')) > 0 AS INT) AS has_spark,
               CAST(len(list_filter(w, x -> len(x) = 0)) = 0 AS INT) AS no_empty_tokens
        FROM t
    """,
    tags=("scalar", "higher_order", "array"),
)
def scalar_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (§2.9): filter / aggregate(fold) /
    exists / forall — all JVM-side lambdas, the idiomatic replacement for
    row-level Python in array-heavy ETL.  Exists/forall booleans are cast
    to INT on both sides (raw booleans hash differently across engines in
    the driver's canonicalizer)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    w = F.col("w")
    return d.select(
        "doc_id",
        F.size(F.filter(w, lambda x: F.length(x) > 6)).alias("n_long_tokens"),
        F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).alias("total_chars"),
        F.exists(w, lambda x: x == "spark").cast("int").alias("has_spark"),
        F.forall(w, lambda x: F.length(x) > 0).cast("int").alias("no_empty_tokens"),
    )


@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24.0
    """,
    tags=("agg", "filter", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — the best-case
    pushdown query (every predicate reaches the Parquet scan; zero
    shuffle beyond the final 1-row combine)."""
    li = load(spark, sf_dir, "lineitem")
    rev_fp = fixed("l_extendedprice", 2) * fixed("l_discount", 2)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg((F.sum(rev_fp).cast("double") / 1e4).alias("revenue"))
    )


@register(
    "window_distribution_funcs",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               first_value(o_orderkey) OVER w AS cheapest_key,
               last_value(o_orderkey)
                   OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS priciest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "distribution"),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (§2.6): ntile, percent_rank,
    cume_dist, first/last_value (with the full-partition frame last_value
    needs to be meaningful)."""
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


@register(
    "window_sliding_range_events",
    oracle="""
        SELECT event_id, user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                   AS n_last_hour
        FROM events
    """,
    tags=("window", "range", "sliding"),
)
def window_sliding_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window via RANGE frame (§2.6): per event, how
    many of the same user's events fall in the trailing hour — the batch
    twin of a sliding stream window, expressed as a range frame over
    epoch seconds (no self-join)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


@register(
    "scalar_levenshtein_fuzzy",
    oracle="""
        SELECT n_name, r_name,
               levenshtein(n_name, r_name) AS dist,
               CAST(levenshtein(n_name, r_name) <= 6 AS INT) AS is_close
        FROM nation CROSS JOIN region
    """,
    tags=("scalar", "fuzzy", "levenshtein"),
)
def scalar_levenshtein_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (§2.9): levenshtein across a (tiny,
    broadcast) candidate grid — the building block for catalog
    reconciliation (reference's label-name ↔ release-label joins are the
    Discogs analogue).  At scale, candidates come from blocking (LSH or
    prefix buckets), never a raw cross join."""
    nation = load(spark, sf_dir, "nation").select("n_name")
    region = load(spark, sf_dir, "region").select("r_name")
    d = F.levenshtein("n_name", "r_name")
    return nation.crossJoin(F.broadcast(region)).select(
        "n_name", "r_name", d.alias("dist"), (d <= 6).cast("int").alias("is_close")
    )


@register(
    "scalar_datetime_extended",
    oracle="""
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
               CAST(dayofweek(o_orderdate) AS BIGINT) + 1 AS dow,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec,
               CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
               round(CAST(datesub('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
                     AS DOUBLE) / 30.0, 4) AS months_to_ref
        FROM orders
    """,
    tags=("scalar", "date", "interval"),
)
def scalar_datetime_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date/time surface (§2.9): quarter/week/day-of-week,
    epoch seconds, interval arithmetic, day-difference math.  DuckDB's
    dayofweek is 0-based Sunday; Spark's is 1-based Sunday — the oracle
    aligns them explicitly (+1), documenting the semantic."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.weekofyear("o_orderdate").cast("long").alias("wk"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.round(
            F.datediff(F.lit("1998-01-01").cast("date"), F.to_date("o_orderdate"))
            .cast("double")
            / 30.0,
            4,
        ).alias("months_to_ref"),
    )


@register(
    "scalar_string_extended",
    oracle="""
        SELECT p_partkey,
               array_to_string(list_transform(string_split(lower(p_type), ' '),
                   w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ') AS type_title,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               rpad(p_brand, 12, '.') AS brand_padded,
               repeat('-', p_size % 5) AS dashes,
               reverse(p_brand) AS brand_rev,
               ascii(p_name) AS first_cp,
               chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
               format('{:.2f}', round(p_retailprice, 2)) AS price_str,
               CAST(starts_with(p_type, 'STANDARD') AS INT) AS is_standard,
               CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
        FROM part
    """,
    tags=("scalar", "string", "extended"),
)
def scalar_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string surface (§2.9 long tail): initcap, padding, repeat,
    reverse, codepoints, printf-style formatting, prefix tests, substring
    position — one row per builtin the analytics contract exposes."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.initcap("p_type").alias("type_title"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.repeat(F.lit("-"), (F.col("p_size") % 5).cast("int")).alias("dashes"),
        F.reverse("p_brand").alias("brand_rev"),
        F.ascii("p_name").alias("first_cp"),
        F.char(F.lit(65) + (F.col("p_partkey") % 26).cast("int")).alias("letter"),
        F.format_string("%.2f", F.round("p_retailprice", 2)).alias("price_str"),
        F.startswith("p_type", F.lit("STANDARD")).cast("int").alias("is_standard"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
    )


@register(
    "scalar_math_extended",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(abs(l_discount - l_tax), 6) AS rate_gap,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
               round(sqrt(l_quantity), 6) AS qty_sqrt,
               round(ln(l_extendedprice), 6) AS price_ln,
               round(log10(l_extendedprice), 6) AS price_log10,
               round(pow(1.0 + l_tax, 2), 6) AS tax_sq,
               CAST(sign(l_discount - 0.05) AS BIGINT) AS disc_sign,
               l_orderkey % 7 AS key_mod,
               round(pi(), 6) AS pi_val
        FROM lineitem
    """,
    tags=("scalar", "math"),
)
def scalar_math_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface (§2.9): abs/ceil/floor/sqrt/ln/log10/pow/sign/
    mod — IEEE doubles evaluate identically on both engines; results
    rounded only where irrational."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - F.col("l_tax")), 6).alias("rate_gap"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("disc_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.round(F.lit(3.14159265358979), 6).alias("pi_val"),
    )


@register(
    "agg_corr_exact",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(len(o_orderpriority) AS BIGINT) + o_custkey % 100) AS DOUBLE) AS sy,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                        * (CAST(len(o_orderpriority) AS BIGINT) + o_custkey % 100)) AS DOUBLE) AS sxy
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg", "stats", "corr"),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation sufficient statistics via exact accumulation (the
    engine-independent way to compute corr/covar: Σx, Σy, Σxy as
    decimals/ints, assemble the coefficient downstream).  Spark's builtin
    corr() is float-accumulation-order dependent — fine in production,
    unsuitable for a bit-exact oracle; this is the deterministic twin."""
    o = load(spark, sf_dir, "orders")
    y = F.length("o_orderpriority").cast("long") + F.col("o_custkey") % 100
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice", 2, 18)).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(dec("o_totalprice", 2, 18) * y).cast("double").alias("sxy"),
    )


@register(
    "scalar_null_semantics",
    oracle="""
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               CAST(nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS INT) AS is_building,
               CAST(c_mktsegment IS NOT DISTINCT FROM nullif(c_mktsegment, 'BUILDING')
                    AS INT) AS null_safe_eq,
               COALESCE(nullif(c_mktsegment, 'BUILDING'), 'suppressed') AS seg_coalesced
        FROM customer
    """,
    tags=("scalar", "null", "semantics"),
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics (§2.9): NULLIF, null-safe equality (Spark
    <=> ≡ SQL IS NOT DISTINCT FROM), IS NULL through the null-safe
    operator, COALESCE fallback — the three-valued-logic corners every
    SQL surface must pin."""
    c = load(spark, sf_dir, "customer")
    seg_or_null = F.nullif("c_mktsegment", F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_or_null.alias("seg_or_null"),
        seg_or_null.eqNullSafe(F.lit(None).cast("string")).cast("int").alias("is_building"),
        F.col("c_mktsegment").eqNullSafe(seg_or_null).cast("int").alias("null_safe_eq"),
        F.coalesce(seg_or_null, F.lit("suppressed")).alias("seg_coalesced"),
    )


@register(
    "sort_nulls_ordering",
    oracle="""
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer
        ORDER BY nullif(c_mktsegment, 'BUILDING') ASC NULLS LAST, c_custkey
        LIMIT 50
    """,
    tags=("sort", "nulls"),
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering (§2.7): engines default differently
    (Spark ASC = nulls first, DuckDB ASC = nulls last), so portable sorts
    must state null placement — this query pins the operator AND the
    portability rule."""
    c = load(spark, sf_dir, "customer")
    seg = F.nullif("c_mktsegment", F.lit("BUILDING"))
    return (
        c.select("c_custkey", seg.alias("seg"))
        .orderBy(F.col("seg").asc_nulls_last(), F.col("c_custkey").asc())
        .limit(50)
    )


@register(
    "q4_late_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "agg", "tpch"),
)
def q4_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders having at least one
    late line (correlated EXISTS with a cross-table date condition —
    fixtures lack commit/receipt dates, so lateness is shipdate more than
    60 days after the order date).  Plans as a left-semi join; the EXISTS
    never duplicates orders."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q7_nation_trade_flows",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year, l_extendedprice, l_discount
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name < n2.n_name
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "tpch", "self_join_dim"),
)
def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between nation pairs by
    year — the nation dimension joins TWICE (supplier side and customer
    side), the canonical aliased-dimension pattern.

    Scale: both nation copies broadcast; the fact-side chain shares the
    orderkey shuffle; the pair predicate prunes half the pairs before
    aggregation."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, supp.s_nationkey == F.col("s_nk"))
        .join(n2, cust.c_nationkey == F.col("c_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(rev_fp).cast("double") / 1e4).alias("revenue"))
    )


@register(
    "q12_priority_by_flag",
    oracle="""
        SELECT l_returnflag,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate
        GROUP BY l_returnflag
    """,
    tags=("join", "agg", "conditional", "tpch"),
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation splitting counts by
    priority class over a join (shipmode column absent from fixtures —
    returnflag plays its grouping role)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
        SELECT round(
                 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
                              ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    tags=("join", "agg", "conditional", "tpch"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional numerator over a
    broadcast part join, single global ratio."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    promo = F.when(F.col("p_type").like("PROMO%"), rev_fp).otherwise(0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * (F.sum(promo).cast("double") / 1e4)
                / (F.sum(rev_fp).cast("double") / 1e4),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 5 AND l_quantity <= 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 10 AND l_quantity <= 40)
    """,
    tags=("join", "filter", "disjunction", "tpch"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across the join — the classic test that OR-of-ANDs predicates
    still prune (Catalyst pushes the common p/l sub-predicates below the
    join)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(5, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(10, 40))
    )
    rev_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return j.where(cond).agg((F.sum(rev_fp).cast("double") / 1e4).alias("revenue"))


@register(
    "range_join_bucketed",
    oracle="""
        SELECT a.event_id AS probe_id, b.event_id AS match_id,
               round(epoch(a.ts) - epoch(b.ts), 6) AS dt_sec
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND b.event_type = 'click' AND a.event_type = 'purchase'
         AND b.ts >= a.ts - INTERVAL 5 MINUTE AND b.ts < a.ts
    """,
    tags=("join", "range", "bucketed"),
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-range join (clicks within 5 minutes before each
    purchase) executed as an EQUI-join on (bucket, user): each probe row
    joins its own and the previous 5-minute bucket (explode of 2 bucket
    keys), then the exact range predicate filters.  A naive range join
    plans a BroadcastNestedLoop/cartesian — O(n*m) compares; bucketing
    bounds candidates to +/-1 bucket per key, the standard interval-join
    trick at 100 TB.  (Same idea as Spark's own range-join hints on
    Databricks; OSS Spark needs it hand-rolled.)

    The user key MUST be inside the equi-join, not a post-filter:
    joining on bucket alone cross-multiplies every user active in the
    same 5-minute bucket — a per-bucket cartesian at scale.  With
    (bkt, user_id) as the hash key, candidates per probe are only that
    user's own clicks in two buckets."""
    ev = load(spark, sf_dir, "events")
    bucket = (epoch("ts") / 300.0).cast("long")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        # probe joins its bucket AND the previous one (a 5-min window can
        # only span two 5-min buckets)
        .withColumn(
            "bkt",
            F.explode(
                F.array(
                    (epoch("p_ts") / 300.0).cast("long"),
                    (epoch("p_ts") / 300.0).cast("long") - 1,
                )
            ),
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("match_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        bucket.alias("bkt"),
    )
    dt = epoch("p_ts") - epoch("c_ts")
    return (
        purchases.join(clicks, ["bkt", "user_id"])
        .where(
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("c_ts") < F.col("p_ts"))
        )
        .select("probe_id", "match_id", F.round(dt, 6).alias("dt_sec"))
    )


@register(
    "asof_join_events",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        lastc AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN event_id END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_id
            FROM tagged
        )
        SELECT event_id AS purchase_id, user_id, last_click_id
        FROM lastc WHERE event_type = 'purchase'
    """,
    tags=("join", "asof", "window"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each purchase matched to the user's most recent PRIOR
    click) — the point-in-time feature-join every training pipeline
    needs, expressed as a union + last-ignoring-nulls window instead of a
    per-row subquery: one shuffle on user_id, no range join at all.

    Scale: this is THE scalable as-of formulation — state is one running
    value per partition stream; a sort-merge-join-based as-of would
    shuffle both sides and still need per-row backward scans."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_id", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"), "user_id", "last_click_id"
        )
    )


@register(
    "nested_struct_roundtrip",
    oracle="""
        SELECT l_orderkey AS o_orderkey,
               COUNT(*) AS n_items,
               CAST(first(CAST(round(l_quantity * 100) AS BIGINT)
                          ORDER BY l_linenumber, CAST(round(l_quantity * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS first_qty,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
                   AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
    """,
    tags=("nested", "struct", "collect", "array"),
)
def nested_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Discogs data-model shape (§1.2 list<struct>, e.g.
    release.formats) built and consumed in one plan: lineitems nest into
    a per-order sorted array<struct>, then scalars are derived FROM the
    nested value (size, head element field, in-array fold).  The oracle
    computes the same scalars relationally — proving the nest/unnest is
    lossless.

    Scale: collect_list bounds memory per key by group size (order line
    counts are small); for unbounded groups use windows instead."""
    li = load(spark, sf_dir, "lineitem")
    item = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    total = F.aggregate(
        F.col("items"), F.lit(0).cast("long"), lambda acc, x: acc + x["qc"]
    )
    return (
        li.select(F.col("l_orderkey").alias("o_orderkey"), item.alias("it"))
        .groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list("it")).alias("items"))
        .select(
            "o_orderkey",
            F.size("items").cast("long").alias("n_items"),
            (F.element_at("items", 1)["qc"].cast("double") / 100).alias("first_qty"),
            (total.cast("double") / 100).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H shapes, round 2 (fixtures lack partsupp; Q2/9/11/16/20 are the
# only classic shapes that genuinely need it)
# ---------------------------------------------------------------------------

_REV_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"
)


@register(
    "q8_market_share",
    oracle=f"""
        WITH flat AS (
            SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
                   sn.n_name AS supp_nation
            FROM lineitem
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation cn ON cn.n_nationkey = c_nationkey
            JOIN region   ON r_regionkey = cn.n_regionkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            JOIN part     ON p_partkey = l_partkey
            WHERE r_name = 'AMERICA'
              AND p_type LIKE 'STANDARD%'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
        )
        SELECT o_year,
               round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                                   THEN volume ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        FROM flat
        GROUP BY o_year
    """,
    tags=("join", "agg", "tpch"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): an 8-table star flattened
    once, then a conditional-ratio aggregate per year.

    Scale: every dimension (nation x2, region, customer, supplier, part)
    broadcasts; orders⋈lineitem is the only real shuffle.  The ratio is
    exact-decimal on both engines, divided as doubles in the same order."""
    cutoff_lo = F.lit("1996-01-01").cast("timestamp")
    cutoff_hi = F.lit("1998-01-01").cast("timestamp")
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").where(F.startswith("p_type", F.lit("STANDARD")))
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(reg, F.col("cn_region") == reg.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(part, li.l_partkey == part.p_partkey)
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3", vol_fp).otherwise(F.lit(0)))
    den = F.sum(vol_fp)
    return (
        flat.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (num.cast("double") / 1e4) / (den.cast("double") / 1e4), 6
            ).alias("mkt_share")
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name, {_REV_SQL} AS revenue, c_acctbal, n_name
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON n_nationkey = c_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): quarter of orders,
    returned lineitems only, revenue per customer, top 20.

    Scale: nation broadcasts, customer broadcasts after the orders filter
    prunes; the orders⋈lineitem shuffle carries only the quarter.  Top-k
    plans TakeOrderedAndProject — no global sort."""
    q_lo = F.lit("1996-10-01").cast("timestamp")
    q_hi = F.lit("1997-01-01").cast("timestamp")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= q_lo) & (F.col("o_orderdate") < q_hi)
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nat = load(spark, sf_dir, "nation")
    rev_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(rev_fp).cast("double") / 1e4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON o_custkey = c_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg", "histogram", "tpch"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): left join with
    a join-side-only predicate, per-customer count (nulls uncounted),
    then a histogram of the counts — aggregation over an aggregation.

    Scale: the outer histogram's key space is tiny (distinct counts), so
    the second exchange is negligible; the left join shuffles on custkey
    once."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no, {_REV_SQL} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    tags=("join", "agg", "subquery", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a revenue "view" reused twice —
    once joined to supplier, once aggregated to its max — the classic
    shared-subplan query.

    Determinism note: the max-equality compares doubles, but both sides
    derive them from the same exact decimal sums, so the comparison is
    bit-exact.  Scale: revenue is one lineitem shuffle on suppkey; the
    max is a 1-row broadcast back."""
    q_lo = F.lit("1997-01-01").cast("timestamp")
    q_hi = F.lit("1997-04-01").cast("timestamp")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= q_lo) & (F.col("l_shipdate") < q_hi)
    )
    rev_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        (F.sum(rev_fp).cast("double") / 1e4).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    supp = load(spark, sf_dir, "supplier")
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(best, F.col("total_revenue") == F.col("best_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
               AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size <= 5
          AND l_quantity < (
              SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                            / COUNT(*))
              FROM lineitem l2 WHERE l2.l_partkey = p_partkey
          )
    """,
    tags=("join", "subquery", "correlated", "tpch", "sql"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): correlated scalar
    aggregate per part (20% of its average quantity) gating the fact
    rows, via the SQL surface — Catalyst decorrelates to an aggregate +
    join, never a per-row re-execution.

    Determinism: the per-part average is an exact decimal sum divided as
    doubles in the same order on both engines."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    load(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
               AS avg_yearly
        FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND p_size <= 5
          AND l_quantity < (
              SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                            / COUNT(*))
              FROM lineitem_q17 l2 WHERE l2.l_partkey = p_partkey
          )
        """
    )


@register(
    "q18_large_volume_customer",
    oracle="""
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250.0
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM big
        JOIN orders   ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("join", "agg", "having", "topk", "tpch"),
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a HAVING-gated
    aggregation over the fact table drives the join back to its
    dimensions, top 20 by order value.

    Scale: the big-order set after HAVING is tiny, so both joins
    broadcast IT rather than shuffling orders/customer; top-k is
    TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg((F.sum(fixed("l_quantity", 2)).cast("double") / 1e2).alias("sum_qty"))
        .where(F.col("sum_qty") > 250.0)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(orders, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q21_waiting_supplier",
    oracle="""
        WITH flat AS (
            SELECT l_orderkey, l_suppkey,
                   CASE WHEN l_shipdate > o_orderdate THEN 1 ELSE 0 END AS late
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supps,
                   COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
            FROM flat
            GROUP BY l_orderkey
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM flat
        JOIN per_order USING (l_orderkey)
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE flat.late = 1 AND per_order.n_supps > 1 AND per_order.n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
    tags=("join", "agg", "exists", "tpch"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), reformulated
    from EXISTS / NOT-EXISTS self-joins into one per-order aggregate:
    the sole late supplier on a multi-supplier finished order ("late" =
    shipped after order date; fixtures carry no commit/receipt dates).

    Scale: the aggregate formulation reads lineitem ONCE where the
    classic form self-joins it twice — the per-order supplier counts are
    a partial-agg-friendly shuffle on orderkey, then a broadcast-back."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(F.col("l_shipdate") > F.col("o_orderdate"), 1).otherwise(0).alias("late"),
        )
        .localCheckpoint()  # reused twice below; one lineitem scan, not two
    )
    per_order = flat.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("n_late"),
    )
    supp = load(spark, sf_dir, "supplier")
    return (
        flat.join(per_order, "l_orderkey")
        .where((F.col("late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*)
                   AS threshold
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > avg_bal.threshold
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("join", "anti", "subquery", "agg", "tpch"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (sales opportunity): customers above the positive
    average balance with no high-value orders — an uncorrelated scalar
    aggregate gate plus an anti-join, grouped by segment (fixtures carry
    no phone country codes; mktsegment plays that role).

    Scale: the average-balance gate broadcasts as one row; the NOT
    EXISTS is a shuffle-free broadcast anti-join against the filtered
    high-value orders."""
    cust = load(spark, sf_dir, "customer")
    thr = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(dec("c_acctbal", 2, 14)).cast("double") / F.count(F.lit(1))).alias(
                "threshold"
            )
        )
    )
    big_orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000.0)
    return (
        cust.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("threshold"))
        .join(
            big_orders.select("o_custkey").distinct(),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal", 2, 14)).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# TPC-H partsupp-family shapes (Q2/Q9/Q11/Q16/Q20) over a DERIVED partsupp
# ---------------------------------------------------------------------------
#
# The fixtures carry no partsupp table, so the supplier-part economics these
# five queries need are derived deterministically from observed lineitems:
#   ps_supplycost_c  = MIN unit price (extendedprice/quantity) in exact cents
#   ps_availqty_f2   = total shipped quantity in exact hundredths
# Both are int64, so every downstream product/sum stays in exact fixed-point
# arithmetic and the DuckDB twin (same BIGINT mirror) matches bit-for-bit.
# Scale: the derivation is ONE partial-agg-friendly shuffle of lineitem on
# (partkey, suppkey); its output has dimension-table cardinality
# (|part|x|avg suppliers per part|), far below the fact table, and is the
# natural thing to materialize once per lake snapshot at 100 TB.

_PS_SQL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
                   AS ps_supplycost_c,
               SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS ps_availqty_f2
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see section comment above)."""
    li = load(spark, sf_dir, "lineitem")
    unit_cents = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast("long")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(
        F.min(unit_cents).alias("ps_supplycost_c"),
        F.sum(fixed("l_quantity", 2)).alias("ps_availqty_f2"),
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        eligible AS (
            SELECT ps_partkey, ps_supplycost_c, s_acctbal, s_name, n_name
            FROM ps
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation   ON n_nationkey = s_nationkey
            JOIN region   ON r_regionkey = n_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
               CAST(ps_supplycost_c AS DOUBLE) / 100 AS supplycost
        FROM eligible
        JOIN part ON p_partkey = ps_partkey
        WHERE p_size = 15 AND p_type = 'ECONOMY'
          AND ps_supplycost_c = (
              SELECT MIN(e2.ps_supplycost_c) FROM eligible e2
              WHERE e2.ps_partkey = p_partkey
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    tags=("join", "subquery", "correlated", "tpch", "partsupp"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the European supplier(s) offering it at the region-wide minimum cost —
    a correlated MIN subquery expressed as a per-part window minimum.

    Scale: supplier x nation x region broadcast into the derived partsupp;
    the min-per-part is a window over the partkey shuffle (no second scan,
    no self-join), and cost equality compares exact cents, never doubles."""
    ps = _partsupp(spark, sf_dir)
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eligible = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("ps_partkey", "ps_supplycost_c", "s_acctbal", "s_name", "n_name")
    )
    part = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eligible.join(part, eligible.ps_partkey == part.p_partkey)
        .withColumn("min_cost_c", F.min("ps_supplycost_c").over(w))
        .where(F.col("ps_supplycost_c") == F.col("min_cost_c"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_c").cast("double") / 100).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q9_product_type_profit",
    oracle=f"""
        WITH ps AS ({_PS_SQL})
        SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
               CAST(SUM(
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                   - ps_supplycost_c * CAST(ROUND(l_quantity * 100) AS BIGINT)
               ) AS DOUBLE) / 10000.0 AS sum_profit
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN ps       ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
        ORDER BY nation, o_year DESC
    """,
    tags=("join", "agg", "tpch", "partsupp"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per nation-year profit =
    revenue minus supply cost for one product family, across a five-way
    join of the fact table to the derived partsupp and its dimensions.

    Scale: part/supplier/nation broadcast; lineitem joins partsupp on its
    (partkey, suppkey) shuffle and orders on the orderkey shuffle — the
    two unavoidable fact-side exchanges.  Profit accumulates in exact
    fixed-point (scale 10^-4) int64, one value per row, so partial
    aggregation is a primitive-long hash-agg."""
    ps = _partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    profit_fp = fixed("l_extendedprice", 2) * (F.lit(100) - fixed("l_discount", 2)) - F.col(
        "ps_supplycost_c"
    ) * fixed("l_quantity", 2)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit_fp).cast("double") / 1e4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        natps AS (
            SELECT ps_partkey, ps_supplycost_c * ps_availqty_f2 AS value_f4
            FROM ps
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation   ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_3'
        )
        SELECT ps_partkey, CAST(SUM(value_f4) AS DOUBLE) / 10000.0 AS value
        FROM natps
        GROUP BY ps_partkey
        HAVING CAST(SUM(value_f4) AS DOUBLE) / 10000.0 > (
            SELECT CAST(SUM(value_f4) AS DOUBLE) / 10000.0 * 0.001 FROM natps
        )
        ORDER BY value DESC, ps_partkey
    """,
    tags=("join", "agg", "having", "subquery", "tpch", "partsupp"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): per-part inventory
    value for one nation's suppliers, kept only where it exceeds a fixed
    fraction of that nation's total — an uncorrelated scalar-aggregate gate.

    Scale: nation-filtered supplier broadcasts into partsupp; the per-part
    value is one shuffle on partkey, and the global total re-aggregates the
    per-part sums (tiny) rather than rescanning — the one-row threshold then
    broadcasts back.  Value products stay exact int64 (cents x hundredths)."""
    ps = _partsupp(spark, sf_dir)
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    natps = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_c") * F.col("ps_availqty_f2")).alias("value_f4"),
        )
    )
    per_part = natps.groupBy("ps_partkey").agg(F.sum("value_f4").alias("sum_f4"))
    total = per_part.agg(
        (F.sum("sum_f4").cast("double") / 1e4 * 0.001).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .withColumn("value", F.col("sum_f4").cast("double") / 1e4)
        .where(F.col("value") > F.col("threshold"))
        .select("ps_partkey", "value")
        .orderBy(F.desc("value"), "ps_partkey")
    )


@register(
    "q16_parts_supplier_count",
    oracle=f"""
        WITH ps AS ({_PS_SQL})
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM ps
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type NOT LIKE 'ECONOMY%'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("join", "anti", "agg", "distinct", "tpch", "partsupp"),
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    counts per (brand, type, size) bucket, excluding one brand, one type
    family, and black-listed suppliers via NOT IN (negative account
    balance stands in for the complaints predicate — fixtures carry no
    supplier comments).

    Scale: the supplier blacklist and the filtered part dimension both
    broadcast (anti-join + inner join); the count-distinct shuffles the
    already-dimension-sized partsupp once on the grouping key."""
    ps = _partsupp(spark, sf_dir)
    bad_supp = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0)
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("ECONOMY%"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    return (
        ps.join(
            bad_supp.select("s_suppkey"),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, ps.ps_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_potential_promotion",
    oracle=f"""
        WITH ps AS ({_PS_SQL}),
        shipped97 AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty97_f2
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (
              SELECT ps_suppkey
              FROM ps
              JOIN shipped97 ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              WHERE ps_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
              )
                AND qty97_f2 > ps_availqty_f2 * 0.15
          )
        ORDER BY s_name
    """,
    tags=("join", "semi", "subquery", "tpch", "partsupp"),
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): European suppliers whose
    1997 shipments of a 'small' part exceeded 15% of their all-time volume
    for it (above the uniform 1/7 share of the fixtures' seven shipping
    years) — nested IN subqueries with a correlated quantity threshold.

    Scale: both IN subqueries become broadcast semi-joins (the part-name
    filter on the dimension, then the qualifying supplier set — at most
    |supplier| rows); partsupp joins the 1997 per-pair aggregate on the
    same (partkey, suppkey) shuffle key it was built on, so AQE coalesces
    rather than re-exchanges.  The 15% comparison multiplies exact int64
    hundredths by a double on both engines — bit-identical inputs, one
    IEEE op, identical verdicts."""
    ps = _partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    shipped97 = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(fixed("l_quantity", 2)).alias("qty97_f2"))
    )
    small_parts = load(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    qualifying = (
        ps.join(
            small_parts.select("p_partkey"),
            ps.ps_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            shipped97,
            (ps.ps_partkey == shipped97.l_partkey) & (ps.ps_suppkey == shipped97.l_suppkey),
        )
        .where(F.col("qty97_f2") > F.col("ps_availqty_f2") * 0.15)
        .select("ps_suppkey")
    )
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        supp.join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .join(
            qualifying,
            supp.s_suppkey == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
               (SELECT COUNT(*) FROM c) AS n_clicked_after,
               (SELECT COUNT(*) FROM p) AS n_purchased_after
    """,
    tags=("events", "funnel", "sequential"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users whose first
    view precedes a click precedes a purchase — the sequential-pattern
    query every product-analytics engine ships (the ordering constraint
    is what a plain per-type count can't express).

    Scale: each stage is a per-user MIN aggregate, so row volume drops
    from events to users immediately; stage N's user set broadcasts into
    the next stage's filtered event scan.  Three passes over events, but
    each is a map-side type filter pushed to the parquet scan — no
    events-sized shuffle is ever joined to another events-sized side."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_after"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_after"))))
    )


@register(
    "join_skew_salted",
    oracle="""
        WITH dim AS (
            SELECT user_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS user_total,
                   COUNT(*) AS user_events
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type, d.user_total, d.user_events
        FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
    tags=("join", "skew", "salt"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join via SALTING — the manual remedy when one join
    key dominates (a hot user, a null-heavy foreign key) and the dim side
    is too large to broadcast.  The fact side gets a deterministic salt
    (event_id % S); the dim side is exploded into S replicas, one per
    salt value; the join key becomes (user_id, salt), so the hot key's
    rows spread across S reducers instead of one straggler task.

    The result is EXACTLY the unsalted join (the oracle is the plain
    join): every fact row still meets its dim row — in the replica that
    matches its salt.  Cost model: dim shuffle volume inflates S-fold,
    fact volume is unchanged; pick S ≈ (hot-key rows / target rows per
    task).  At 100 TB this composes with AQE skew-join splitting — AQE
    splits oversized SHUFFLE partitions, salting additionally splits a
    single oversized KEY GROUP, which AQE alone cannot (one key's rows
    must land in one partition to co-group, unless the key itself is
    salted).  Deterministic salt keeps the query oracle-checkable; a
    production pipeline would use pmod(hash(...), S) the same way."""
    n_salt = 8
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        dsum("value", 6).alias("user_total"),
        F.count(F.lit(1)).alias("user_events"),
    )
    fact = ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("event_id") % n_salt).cast("int").alias("salt"),
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return fact.join(dim_salted, ["user_id", "salt"]).select(
        "event_id", "user_id", "event_type", "user_total", "user_events"
    )


@register(
    "asof_join_tolerance",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        lastc AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN event_id END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_id,
                   last_value(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_ts
            FROM tagged
        )
        SELECT event_id AS purchase_id, user_id,
               CASE WHEN epoch(ts) - epoch(last_click_ts) <= 600.0
                    THEN last_click_id END AS click_id_within_10m,
               CASE WHEN epoch(ts) - epoch(last_click_ts) <= 600.0
                    THEN round(epoch(ts) - epoch(last_click_ts), 6)
                    END AS staleness_sec
        FROM lastc WHERE event_type = 'purchase'
    """,
    tags=("join", "asof", "tolerance", "window"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND (tolerance): each purchase takes
    the user's most recent prior click only if it happened within the
    last 10 minutes — the point-in-time feature join with a feature-TTL,
    which is how real feature stores define validity (a quote/feature
    older than the tolerance must resolve to NULL, not to a stale value).

    Same single-shuffle union + last-ignoring-nulls window as
    asof_join_events; the tolerance is a post-window NULL-out, costing
    nothing extra.  Contrast with pandas merge_asof(tolerance=...) —
    identical semantics, but distributed and one pass."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    last_click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_id", last_click_id)
        .withColumn("gap_sec", epoch("ts") - epoch(last_click_ts))
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.when(F.col("gap_sec") <= 600.0, F.col("last_click_id")).alias(
                "click_id_within_10m"
            ),
            F.when(F.col("gap_sec") <= 600.0, F.round("gap_sec", 6)).alias(
                "staleness_sec"
            ),
        )
    )


@register(
    "events_retention_cohorts",
    oracle="""
        WITH firstseen AS (
            -- date_trunc('week') is DATE in DuckDB but TIMESTAMP in Spark:
            -- both sides cast to DATE explicitly (Monday-start in both)
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        )
        SELECT f.cohort_week, a.active_week,
               CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
                   AS weeks_since,
               COUNT(*) AS n_users
        FROM activity a JOIN firstseen f ON a.user_id = f.user_id
        GROUP BY f.cohort_week, a.active_week
    """,
    tags=("agg", "cohort", "retention"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    in every week they were active — the standard growth-analytics
    triangle, and a stress of the two-level aggregate + self-join shape.

    Scale: both inputs reduce BEFORE the join — per-user first-seen is
    one grouped MIN over events, per-(user, week) activity is a
    DISTINCT (both user-keyed shuffles Spark lines up on the same
    exchange) — so the join moves user-sized, not event-sized, data; the
    final groupBy is over (weeks x cohorts), tiny."""
    ev = load(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    weeks_since = (F.datediff("active_week", "cohort_week") / 7).cast("long")
    return (
        activity.join(firstseen, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "cohort_week",
            "active_week",
            weeks_since.alias("weeks_since"),
            "n_users",
        )
    )


@register(
    "window_running_distinct_users",
    oracle="""
        WITH firstday AS (
            SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT first_day AS day, COUNT(*) AS new_users
            FROM firstday GROUP BY first_day
        )
        SELECT day, new_users,
               CAST(SUM(new_users) OVER (ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_distinct_users
        FROM daily
    """,
    tags=("window", "distinct", "running"),
)
def window_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT user count by day — the classic trap query: a
    naive COUNT(DISTINCT) OVER (ORDER BY day) is unsupported/O(n²);
    the scalable identity is first-seen decomposition — a user
    contributes to the running distinct count exactly once, on their
    first day — so the answer is a prefix-sum over daily NEW-user
    counts.  One grouped MIN (user-keyed), one small daily aggregate,
    one window over ~days rows.

    The single-partition window is SAFE here (and only here) because its
    input is one row per calendar day — bounded and tiny — never the
    event stream itself."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id")
        .agg(F.min("ts").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_distinct_users")
    )


@register(
    "events_time_weighted_avg",
    oracle="""
        WITH seg AS (
            SELECT user_id, value,
                   epoch(LEAD(ts) OVER w) - epoch(ts) AS dt
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(SUM(CAST(round(value * dt, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS weighted_sum,
               CAST(SUM(CAST(round(dt, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS total_sec,
               round(CAST(SUM(CAST(round(value * dt, 6) AS DECIMAL(28,6))) AS DOUBLE)
                     / CAST(SUM(CAST(round(dt, 6) AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS twa_value
        FROM seg WHERE dt IS NOT NULL
        GROUP BY user_id
    """,
    tags=("window", "agg", "time_weighted"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average per user: each event's value holds until the
    user's next event, so the mean weights by holding duration, not by
    event count — the correct aggregate for sampled gauges (balance,
    price, sensor level), where plain AVG over-weights busy periods.

    One lead() window (user-keyed shuffle shared with the aggregate) and
    exact accumulation: the per-segment product rounds to 6 decimals then
    sums as DECIMAL on both engines, so parallel float addition order
    can't smear the result."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.lead(epoch("ts")).over(w) - epoch("ts")
    seg = load(spark, sf_dir, "events").select(
        "user_id", "value", dt.alias("dt")
    ).where(F.col("dt").isNotNull())
    wsum = F.sum(F.round(F.col("value") * F.col("dt"), 6).cast("decimal(28,6)")).cast(
        "double"
    )
    tsec = F.sum(F.round("dt", 6).cast("decimal(28,6)")).cast("double")
    return seg.groupBy("user_id").agg(
        wsum.alias("weighted_sum"),
        tsec.alias("total_sec"),
        F.round(wsum / tsec, 6).alias("twa_value"),
    )


def _coorder_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order distinct-part baskets, capped at 2-4 parts: ONE
    order-keyed aggregation shared by the co-order graph family (edges)
    and the association-rules miner (supports)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps").between(2, 4))
    )


# ordered-pair generation over a basket's sorted `ps` array (u < v)
_COORDER_PAIR_EXPR = (
    "flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps) - i - 1), "
    "y -> struct(x AS u, y AS v))))"
)


_COORDER_EDGE_CACHE: dict[tuple[str, str], DataFrame] = memo_cache()


def _coorder_oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (u < v) distinct edges of the parts-co-order graph: parts
    are connected when they appear in the same order; orders capped at 4
    distinct parts so the per-order pair fan-out is bounded.  No
    self-join, no per-order n^2 blowup before the cap.

    MATERIALIZED once per (session, sf_dir) behind a localCheckpoint —
    the same cache shape as the dedup family's minhash_pair_graph:
    triangle counting, PageRank, and the clustering coefficient all
    consume this edge set, and rebuilding it per query paid the
    order-keyed aggregation three times per session."""
    from discogs_etl_spark.queries._util import session_memo

    return session_memo(
        _COORDER_EDGE_CACHE,
        spark,
        sf_dir,
        lambda: (
            _coorder_baskets(spark, sf_dir)
            .select(F.explode(F.expr(_COORDER_PAIR_EXPR)).alias("e"))
            .select("e.u", "e.v")
            .distinct()
            .localCheckpoint()
        ),
    )


# Shared DuckDB CTE prefix for the co-order graph family (edge build must
# match _coorder_oriented_edges exactly).
_COORDER_EDGES_SQL = """
    op AS (
        SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
        FROM lineitem GROUP BY l_orderkey
        HAVING len(list_distinct(list(l_partkey))) BETWEEN 2 AND 4
    ),
    oriented AS (
        SELECT DISTINCT p1.u, p2.v FROM (
            SELECT unnest(ps) AS u, ps FROM op
        ) AS p1, LATERAL (SELECT unnest(p1.ps) AS v) p2
        WHERE p1.u < p2.v
    )
"""

# Label propagation over ``oriented``, the oracle twin of
# _label_propagation: und holds both directions of every edge, l0 gives
# each node its own label, and r1..r3 are three synchronous rounds in
# which a node adopts its neighbours' most frequent label, ties to the
# smallest.
_LPA_SQL = """und AS (
            SELECT u AS a, v AS b FROM oriented
            UNION ALL
            SELECT v AS a, u AS b FROM oriented
        ),
        l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),""" + ",".join(
    f"""
        r{i} AS (
            SELECT node, label FROM (
                SELECT und.a AS node, lb.label, COUNT(*) AS c,
                       ROW_NUMBER() OVER (PARTITION BY und.a
                                          ORDER BY COUNT(*) DESC, lb.label)
                           AS rn
                FROM und JOIN {prev} lb ON und.b = lb.node
                GROUP BY und.a, lb.label
            ) WHERE rn = 1
        )"""
    for i, prev in ((1, "l0"), (2, "r1"), (3, "r2"))
)


def _label_propagation(oriented: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(und, labels): both directions of the ``oriented`` (u, v) edges as
    (a, b), and each node's label after three synchronous rounds of
    label propagation from every node labelling itself.  A round gives
    each node its neighbours' most frequent label, ties to the smallest,
    the deterministic variant.

    Each round's argmax is a two-level aggregation: min(struct(-c,
    label)) over the (node, label) counts picks the winner a row_number
    window would, but partial-aggregates map-side on the node key and
    skips the window's per-partition sort.  A round is one edge-sized
    shuffle join plus those two aggregates: the Pregel superstep
    shape."""
    und = oriented.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        oriented.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        labels = (
            und.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("label").alias("label")
                    )
                ).alias("best")
            )
            .select("node", F.col("best.label").alias("label"))
        )
    return und, labels


@register(
    "graph_triangle_count",
    oracle="""
        WITH items AS (
            SELECT l_orderkey, l_partkey FROM lineitem
            GROUP BY l_orderkey, l_partkey
        ),
        small AS (
            SELECT l_orderkey FROM items GROUP BY l_orderkey HAVING COUNT(*) <= 4
        ),
        edges AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            JOIN small s ON a.l_orderkey = s.l_orderkey
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    """,
    tags=("graph", "triangle", "join"),
    bench=True,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING on the parts-co-ordered graph (parts sharing an
    order are connected; orders capped at 4 distinct parts so the edge
    build is bounded) — the classic graph-analytics primitive behind
    clustering coefficients and community density, expressed as the
    standard two-join enumeration over CANONICALLY ORIENTED edges
    (u < v < w), so each triangle is found exactly once.

    Scale: orientation is the whole trick — joining ordered edges bounds
    each wedge u<v<w to one direction, cutting the join fan-in 6x and
    keeping the heaviest hub's wedges on the smaller side; the per-order
    item cap is the real-world guard (a 1000-item order contributes
    half a million edges unbounded).  All shuffles are edge-keyed
    equi-joins.

    The edge build is ONE order-keyed aggregation: collect the distinct
    part set per order, keep orders with 2-4 parts, and emit the ordered
    pairs with a higher-order transform — replacing the
    distinct + count + self-join pipeline (3 shuffles and a per-order
    n^2 join blowup BEFORE the cap filter) with 1 shuffle whose
    aggregation buffer holds at most one order's distinct parts,
    strictly smaller state than the self-join it replaces."""
    # Materialize the edge set ONCE: the triangle enumeration references
    # it three times, and Spark does not share common subplans across
    # DataFrame branches — without the checkpoint the whole edge-build
    # subtree executes per reference.  Same pattern as the CC family's
    # minhash_pair_graph.
    edges = _coorder_oriented_edges(spark, sf_dir)
    e2 = edges.select(F.col("u").alias("v"), F.col("v").alias("w"))
    # Wedge u<v<w, then keep it only when closing edge (u, w) exists —
    # a LEFT SEMI join, so the probe rows never widen.  Per-node counts
    # come from ONE explode over the surviving triangles (a unionAll of
    # three projections would re-execute the wedge join per branch).
    tri = (
        edges.join(e2, "v")
        .join(edges.select("u", F.col("v").alias("w")), ["u", "w"], "left_semi")
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "table_profile_orders",
    oracle="""
        SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderstatus),
               CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderpriority),
               CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(*),
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderdate),
               CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
        FROM orders
    """,
    tags=("profile", "quality", "agg"),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA PROFILING as a query: per-column row/null/distinct counts and
    min/max (stringified for a uniform shape) — the validation report
    every ingestion job should publish before downstream consumption
    (schema drift, null explosions, and cardinality regressions all
    surface here).

    Scale note: this oracle-checked form unions one exact aggregate per
    column (4 scans) so every count stays exactly hashable; the generic
    production profiler (curation.profile_table) does ONE scan for any
    schema by switching distinct counts to mergeable HyperLogLog
    sketches.  The stringify makes the report schema
    column-count-independent."""
    orders = load(spark, sf_dir, "orders")

    def profile(col: str):
        return orders.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_str"),
            F.max(col).cast("string").alias("max_str"),
        )

    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    out = profile(cols[0])
    for c in cols[1:]:
        out = out.unionAll(profile(c))
    return out


@register(
    "curation_profile_table",
    oracle="""
        SELECT 'vec_id' AS col, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(MIN(vec_id) AS VARCHAR) AS min_str,
               CAST(MAX(vec_id) AS VARCHAR) AS max_str
        FROM embeddings
        UNION ALL
        SELECT 'embedding', COUNT(*),
               CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL, NULL
        FROM embeddings
        UNION ALL
        SELECT 'label', COUNT(*),
               CAST(SUM(CASE WHEN label IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MIN(label) AS VARCHAR), CAST(MAX(label) AS VARCHAR)
        FROM embeddings
    """,
    tags=("profile", "quality", "curation", "roundtrip"),
)
def curation_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END driver evidence for the user-facing ``profile_table``
    API — the generic one-scan profiler behind the CLI's ``profile``
    command, run ITSELF over the embeddings table (chosen because its
    FLOAT[] column exercises the non-orderable branch: distinct counting
    switches to a to_json proxy and min/max are NULLed, the part
    ``table_profile_orders``' fixed-column exact sibling never touches).
    The wide-aggregate → stack unpivot, the null accounting, and the
    stringified min/max all value-hash cross-engine.

    ``n_distinct_approx`` is deliberately PROJECTED OUT of the driver
    row: it is a HyperLogLog sketch value, and sketch internals are
    engine-specific (the repo's standing rule — see
    agg_approx_distinct's self-verifying form); dropping the column
    lets Catalyst prune the HLL aggregates entirely, and the sketch
    behavior stays pinned by the local suite (tests/test_curation.py).

    Scale: ONE wide aggregation pass over any schema — every per-column
    statistic is a mergeable term, so profiling 100 TB costs one scan
    with map-side partial aggregation and no Expand blowup."""
    from discogs_etl_spark.curation import profile_table

    emb = load(spark, sf_dir, "embeddings")
    return profile_table(emb).select(
        "col", "n_rows", "n_nulls", "min_str", "max_str"
    )


@register(
    "incremental_agg_merge",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "incremental", "merge"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL aggregate maintenance, proven equal to recompute: the
    table splits into an OLD batch (orders before 1996) and a DELTA
    (the rest); each is reduced to partial state (count + exact
    fixed-point sum), and the states MERGE by addition — the oracle is
    the from-scratch aggregate over everything, so the query certifies
    merge(old_state, delta_state) == full recompute.

    This is the contract that makes 100 TB pipelines incremental: daily
    partitions aggregate once, and the rollup is state merging (tiny)
    instead of a full-history re-scan.  Works because count/sum are
    commutative monoids over the fixed-point representation — the same
    property streaming upsert sinks and AQE partial aggregation rely
    on."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("date")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(fixed("o_totalprice", 2)).alias("s"),
        )

    old_state = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    merged = (
        old_state.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderstatus",
        "n_orders",
        (F.col("s").cast("double") / 100).alias("total_price"),
    )


@register(
    "histogram_fixed_bins",
    oracle="""
        -- DuckDB has no width_bucket: spell out Spark's semantics
        -- (0 below min, 13 at/above max, else floor(x/width)+1)
        SELECT CASE WHEN o_totalprice < 0 THEN 0
                    WHEN o_totalprice >= 600000 THEN 13
                    ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END AS bin,
               COUNT(*) AS n,
               CAST(MIN(round(o_totalprice * 100)) AS BIGINT) AS min_cents,
               CAST(MAX(round(o_totalprice * 100)) AS BIGINT) AS max_cents
        FROM orders GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin HISTOGRAM via width_bucket — the one-pass distribution
    profile (12 equal bins over [0, 600k] plus under/overflow buckets 0
    and 13) that dashboards and data-quality monitors publish.  Bin
    extremes reported in exact cents so the hash can't wobble.

    Scale: a single hash aggregation on a 14-value key — partial
    aggregation collapses everything map-side; this is the cheapest
    possible full-table profile."""
    orders = load(spark, sf_dir, "orders")
    b = F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
    return orders.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(fixed("o_totalprice", 2)).alias("min_cents"),
        F.max(fixed("o_totalprice", 2)).alias("max_cents"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
        WITH stats AS (
            SELECT user_id,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
                       / 1000000 AS s1,
                   CAST(SUM(CAST(round(value * 1000000) AS BIGINT)
                            * CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
                       / 1000000000000 AS s2
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id,
               round((e.value - s.s1 / s.n)
                     / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 4) AS z
        FROM events e JOIN stats s ON e.user_id = s.user_id
        WHERE s.n >= 30
          AND abs((e.value - s.s1 / s.n)
                  / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))) > 2.5
    """,
    tags=("agg", "window", "anomaly", "zscore"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ANOMALY flags: events whose value is more than 2.5
    standard deviations from the user's own mean — the self-join-free
    outlier detector every event pipeline runs.  Sufficient statistics
    (n, Σx, Σx² in exact fixed-point micros) aggregate once per user and
    broadcast back onto the event stream; the z expression is then
    bit-deterministic per row on both engines.

    Scale: one user-keyed aggregation + one join of user-sized stats to
    the event stream (broadcast when users fit, shuffle otherwise) —
    never an event-to-event comparison."""
    ev = load(spark, sf_dir, "events")
    m = fixed("value", 6)
    # Σ(micros²) in DECIMAL(38,0): a LongType sum wraps silently past
    # 9.2e18 (measured 7.3e17 at sf0.1 — only ~12x headroom), while the
    # oracle's SUM(BIGINT·BIGINT) promotes to HUGEINT; decimal matches
    # that exactness at any sf
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(m).cast("double") / 1e6).alias("s1"),
        (F.sum(m.cast("decimal(38,0)") * m).cast("double") / 1e12).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(stats, "user_id")
        .where((F.col("n") >= 30) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", F.round(z, 4).alias("z"))
    )


@register(
    "pareto_cum_revenue_share",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_cents
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT SUM(rev_cents) AS t FROM per_part)
        SELECT l_partkey, rev_cents,
               round(CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / CAST(t AS DOUBLE), 6) AS cum_share
        FROM per_part, tot
        ORDER BY rev_cents DESC, l_partkey
        LIMIT 100
    """,
    tags=("window", "pareto", "running"),
)
def pareto_cum_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO analysis: top-100 parts by revenue with each part's
    cumulative share of total revenue — the 80/20 concentration curve
    behind inventory and hot-key planning.  Revenue accumulates in exact
    cents; the single-partition running window is legal because its
    input is already reduced to one row per part and LIMITed.

    Scale: per-part aggregation shuffles once on partkey; the global
    total is a scalar broadcast; only the top slice flows into the
    ordered window."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(fixed("l_extendedprice", 2)).alias("rev_cents")
    )
    tot = per_part.agg(F.sum("rev_cents").alias("t"))
    w = Window.orderBy(F.desc("rev_cents"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_share",
            F.round(F.sum("rev_cents").over(w).cast("double") / F.col("t").cast("double"), 6),
        )
        .orderBy(F.desc("rev_cents"), F.asc("l_partkey"))
        .limit(100)
        .select("l_partkey", "rev_cents", "cum_share")
    )


@register(
    "join_null_safe_equality",
    oracle="""
        WITH a AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE o_orderkey % 5 END AS k
            FROM orders WHERE o_orderkey <= 2000
        ),
        b AS (
            SELECT CASE WHEN g.g = 5 THEN NULL ELSE g.g END AS k,
                   CASE WHEN g.g = 5 THEN 'null-bucket'
                        ELSE 'bucket-' || CAST(g.g AS VARCHAR) END AS label
            FROM (SELECT unnest(range(6)) AS g) g
        )
        SELECT a.o_orderkey, b.label
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    tags=("join", "null_semantics", "null_safe"),
)
def join_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (Spark ``eqNullSafe`` / SQL ``<=>`` — DuckDB's
    ``IS NOT DISTINCT FROM``): NULL keys MATCH each other instead of
    silently dropping, the semantic every dimension join with optional
    keys has to choose explicitly (plain ``=`` discards all NULL-keyed
    facts; null-safe routes them to a designated bucket).

    Scale: ``<=>`` still plans as a HASH equi-join (null-safe equality is
    a valid hash key — NULL hashes to a fixed bucket), NOT a nested
    loop; but all NULL keys co-locate in one task, so a null-heavy fact
    column needs the salting treatment before this join."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    a = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderkey") % 5)
        .alias("k"),
    )
    b = spark.range(6).select(
        F.when(F.col("id") == 5, F.lit(None)).otherwise(F.col("id")).alias("bk"),
        F.when(F.col("id") == 5, F.lit("null-bucket"))
        .otherwise(F.concat(F.lit("bucket-"), F.col("id").cast("string")))
        .alias("label"),
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["bk"]))
        .select("o_orderkey", "label")
    )


@register(
    "scd2_dimension_intervals",
    oracle="""
        WITH versions AS (
            SELECT o_custkey AS cust, o_orderdate AS eff_from,
                   o_orderpriority AS attr, o_orderkey
            FROM orders
        ),
        ranked AS (
            SELECT cust, eff_from, attr,
                   LEAD(eff_from) OVER (PARTITION BY cust
                                        ORDER BY eff_from, o_orderkey)
                       AS eff_to,
                   ROW_NUMBER() OVER (PARTITION BY cust
                                      ORDER BY eff_from, o_orderkey) AS version
            FROM versions
        )
        SELECT cust, version, eff_from, eff_to, attr,
               CAST(eff_to IS NULL AS INT) AS is_current
        FROM ranked WHERE cust <= 500
    """,
    tags=("window", "scd2", "dimension", "warehouse"),
)
def scd2_dimension_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLOWLY-CHANGING-DIMENSION type 2 build: a change feed (here each
    order is treated as an attribute-change event for its customer)
    becomes versioned validity intervals — eff_from from the change,
    eff_to from LEAD of the next change, open interval (NULL eff_to)
    flagged current.  This is the warehouse pattern behind every
    point-in-time dimension join: the as-of join
    (asof_join_events/tolerance) CONSUMES intervals this operator
    PRODUCES.

    Scale: one window over the change feed, partitioned by the entity
    key — a single shuffle; no self-join version matching.  Late-arriving
    changes re-window only the affected keys' partitions when run
    incrementally per partition."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("cust").orderBy("eff_from", "o_orderkey")
    versions = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("eff_from"),
        F.col("o_orderpriority").alias("attr"),
        "o_orderkey",
    )
    return (
        versions.select(
            "cust",
            F.row_number().over(w).alias("version"),
            "eff_from",
            F.lead("eff_from").over(w).alias("eff_to"),
            "attr",
        )
        .where(F.col("cust") <= 500)
        .select(
            "cust",
            "version",
            "eff_from",
            "eff_to",
            "attr",
            F.col("eff_to").isNull().cast("int").alias("is_current"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        )
        SELECT event_type, next_type, COUNT(*) AS n,
               round(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
    tags=("window", "markov", "behavior"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV transition matrix of user behavior: for each
    (event_type → next event_type) pair, the count and the row-normalized
    transition probability — the behavioral model behind next-action
    prediction and funnel leak analysis.  Counts are integers; the
    probability divides two exact counts inside one window, so the hash
    is stable.

    Scale: one user-keyed window for LEAD (shared with every other
    per-user window), then a types²-sized aggregate — the matrix itself
    is tiny regardless of corpus size."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    wrow = Window.partitionBy("event_type")
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6).alias("p"),
        )
    )


@register(
    "orders_backlog_curve",
    oracle="""
        WITH bounds AS (
            SELECT o_orderkey, o_orderdate AS opened,
                   (SELECT MAX(l_shipdate) FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey) AS closed
            FROM orders o
        ),
        deltas AS (
            SELECT opened AS day, 1 AS d FROM bounds
            UNION ALL
            SELECT closed, -1 FROM bounds WHERE closed IS NOT NULL
        ),
        daily AS (
            SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY day
        )
        SELECT day, delta,
               CAST(SUM(delta) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_orders
        FROM daily
    """,
    tags=("window", "interval", "backlog"),
)
def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order BACKLOG over time by interval counting: each order
    contributes +1 at open (order date) and -1 at close (last line-item
    receipt); the running sum over boundary days IS the number of
    concurrently open orders — computed WITHOUT joining every order to
    every day it spans (the O(orders x days) trap).  The same shape
    answers concurrent-session counts, inventory on hand, and active-
    connection curves.

    Scale: two boundary rows per order, one day-keyed aggregate, and a
    running window over ~days rows (single-partition is legal at day
    grain).  The per-order close date reduces lineitem once on
    orderkey."""
    orders = load(spark, sf_dir, "orders")
    closes = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("closed"))
    )
    bounds = orders.select(
        F.col("o_orderkey").alias("l_orderkey"), F.col("o_orderdate").alias("opened")
    ).join(closes, "l_orderkey", "left")
    deltas = bounds.select(F.col("opened").alias("day"), F.lit(1).alias("d")).unionAll(
        bounds.where(F.col("closed").isNotNull()).select(
            F.col("closed").alias("day"), F.lit(-1).alias("d")
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "delta", F.sum("delta").over(w).alias("open_orders")
    )


@register(
    "funnel_time_to_convert",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT round(epoch(t_purchase) - epoch(t_view), 6) AS latency_sec
            FROM firsts
            WHERE t_view IS NOT NULL AND t_purchase IS NOT NULL
              AND t_purchase > t_view
        )
        SELECT COUNT(*) AS n_converted,
               round(MIN(latency_sec), 6) AS min_sec,
               round(quantile_cont(latency_sec, 0.5), 6) AS p50_sec,
               round(quantile_cont(latency_sec, 0.9), 6) AS p90_sec,
               round(MAX(latency_sec), 6) AS max_sec
        FROM conv
    """,
    tags=("funnel", "latency", "percentile"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-LATENCY distribution: per user, first view → first
    purchase delay; reported as exact percentiles (p50/p90 via
    interpolated quantiles over second-precision latencies — both
    engines interpolate the same sorted doubles).  The companion to the
    funnel COUNT query: not just HOW MANY convert, but HOW FAST.

    Scale: the conditional-MIN aggregation collapses events to one row
    per user in a single pass (no per-stage joins needed for
    first-touch semantics); the percentile runs over converted users
    only."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    conv = firsts.where(
        F.col("t_view").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") > F.col("t_view"))
    ).select(F.round(epoch("t_purchase") - epoch("t_view"), 6).alias("latency_sec"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.min("latency_sec"), 6).alias("min_sec"),
        F.round(F.expr("percentile(latency_sec, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(latency_sec, 0.9)"), 6).alias("p90_sec"),
        F.round(F.max("latency_sec"), 6).alias("max_sec"),
    )


@register(
    "explode_outer_semantics",
    oracle="""
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN []
                        ELSE string_split(substr(text, 1, 20), ' ') END AS toks
            FROM documents WHERE doc_id < 200
        )
        SELECT d.doc_id, t.tok
        FROM docs d
        LEFT JOIN LATERAL (SELECT unnest(toks) AS tok) t ON TRUE
    """,
    tags=("explode", "outer", "null_semantics"),
)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` semantics pinned: rows with EMPTY arrays survive
    the fan-out as a single NULL-valued row (plain explode silently
    drops them — the classic row-loss bug in tokenization pipelines,
    where empty documents vanish from counts).  DuckDB's LEFT JOIN
    LATERAL unnest is the SQL spelling of the same contract."""
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>"))
            .otherwise(F.split(F.substring("text", 1, 20), " "))
            .alias("toks"),
        )
    )
    return docs.select("doc_id", F.explode_outer("toks").alias("tok"))


@register(
    "variant_semistructured_events",
    oracle="""
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               COUNT(*) AS n,
               CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events
        GROUP BY event_type, CAST(json_extract(props, '$.k') AS BIGINT) % 10
    """,
    tags=("variant", "semistructured", "json"),
)
def variant_semistructured_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing through Spark 4's VARIANT type: the
    JSON props column parses ONCE into a binary variant
    (``parse_json``), and every extraction (``try_variant_get``) reads
    the pre-parsed tree — versus get_json_object, which re-parses the
    string per call.  At 100 TB the difference is a full corpus re-parse
    per extracted field; variant is also the shredding-ready
    representation (Parquet variant shredding lands columnar access to
    hot paths).

    The oracle extracts the same paths with DuckDB's JSON tree
    functions — two engines, two semi-structured representations, one
    answer."""
    ev = load(spark, sf_dir, "events").withColumn("v", F.parse_json("props"))
    k = F.try_variant_get(F.col("v"), "$.k", "bigint")
    return (
        ev.groupBy("event_type", (k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


@register(
    "events_top_paths",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM ranked WHERE rn <= 3
            GROUP BY user_id
        )
        SELECT path, COUNT(*) AS n_users
        FROM paths GROUP BY path
    """,
    tags=("window", "path", "behavior"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATH analysis: each user's first three event types joined into a
    journey string, counted across users — the onboarding-flow question
    ("what do people actually do first?") answered without a graph
    engine.  One user-keyed window (shared exchange with every other
    per-user op), a per-user ordered string_agg, and a paths-sized
    count.

    Scale: journeys truncate at k=3 so the path alphabet stays bounded
    (|types|^k); the aggregate output is path-sized, never user-sized."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    paths = (
        ranked.where(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                ">", F.array_sort(F.collect_list(F.struct("rn", "event_type")))
                .getField("event_type")
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "orders_rfm_segments",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey,
                   ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_q,
                   ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_q,
                   ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_q
            FROM per_cust
        )
        SELECT r_q, f_q, m_q, COUNT(*) AS n_customers
        FROM scored GROUP BY r_q, f_q, m_q
    """,
    tags=("window", "rfm", "segmentation"),
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION: customers quartiled independently on recency
    (last order date), frequency (order count), and monetary (exact
    total spend), reported as the 4x4x4 segment census — the classic
    customer-value grid.  Deterministic ntile via total orders
    (metric, custkey) on both engines.

    Scale: one customer-keyed aggregate, then three windows over the
    CUSTOMER-sized frame.  The single-partition windows are the exact
    ntile trade-off: global quantile ranks need a global order — at
    true scale swap to approx ntile via percentile thresholds +
    broadcast (the quality_gate_quantile two-pass shape)."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", 2).alias("monetary"),
        )
    )
    scored = per_cust.select(
        "o_custkey",
        F.ntile(4).over(Window.orderBy("last_order", "o_custkey")).alias("r_q"),
        F.ntile(4).over(Window.orderBy("frequency", "o_custkey")).alias("f_q"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "window_rolling_median",
    oracle="""
        SELECT event_id, user_id,
               round(median(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING),
                     6) AS smoothed
        FROM events
    """,
    tags=("window", "median", "smoothing"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN smoothing (5-event centered window per user) — the
    robust denoiser for spiky gauges where a rolling mean chases
    outliers.  Exact small-window median: both engines sort the same ≤5
    doubles, so the result is bit-deterministic (a rolling mean would
    need the fixed-point treatment; the median needs nothing).

    Scale: one user-keyed window, frame state bounded at 5 rows per
    step — O(1) memory per row, no skew surface beyond the user key
    itself.  (Spark's median/percentile aggregates reject window
    frames, so the median is spelled from a frame collect_list +
    array_sort — identical arithmetic to DuckDB's windowed median,
    including the even-count midpoint.)"""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    frame = F.array_sort(F.collect_list("value").over(w))
    k = F.size(frame)
    mid_hi = F.element_at(frame, (k / 2 + 1).cast("int"))
    mid_lo = F.element_at(frame, ((k + 1) / 2).cast("int"))
    med = F.when(k % 2 == 1, mid_lo).otherwise((mid_lo + mid_hi) / 2)
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(med, 6).alias("smoothed"),
    )


@register(
    "events_burst_users",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   COUNT(*) AS n_events,
                   round(epoch(MAX(ts)) - epoch(MIN(ts)), 6) AS span_sec
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_events, span_sec,
               round(n_events / (span_sec / 60.0), 6) AS events_per_min
        FROM per_user
        WHERE n_events >= 20 AND span_sec > 0
          AND n_events / (span_sec / 60.0) > 0.0018
    """,
    tags=("agg", "quality", "bot_detection"),
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURST/AUTOMATION detection: users whose sustained event rate over
    their active span exceeds a threshold — the traffic-quality gate
    that keeps bot-generated interactions out of behavioral training
    data (the events-table sibling of the documents-side quality gates).

    One grouped pass computes count + span; the rate is a per-row
    expression over exact aggregates.  Scale: user-keyed aggregate
    sharing its exchange with every other per-user op; output is
    flagged-users-sized.  (The 0.0018/min threshold sits at the
    fixtures' ~p90 so the flagged set is non-trivial; production tunes
    the threshold to its own traffic's tail.)"""
    per_user = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(epoch(F.max("ts")) - epoch(F.min("ts")), 6).alias("span_sec"),
    )
    rate = F.col("n_events") / (F.col("span_sec") / 60.0)
    return (
        per_user.where(
            (F.col("n_events") >= 20) & (F.col("span_sec") > 0) & (rate > 0.0018)
        )
        .select(
            "user_id",
            "n_events",
            "span_sec",
            F.round(rate, 6).alias("events_per_min"),
        )
    )


_PAGERANK_DAMPING = 0.85
_PAGERANK_ITERS = 5

_PAGERANK_STEPS = ",\n    ".join(
    f"""r{i + 1} AS (
        SELECT e.v AS node,
               CAST(SUM(CAST(round(r.rank * {_PAGERANK_DAMPING} / e.deg * 1e12)
                             AS BIGINT)) AS DOUBLE) / 1e12
               + (SELECT (1.0 - {_PAGERANK_DAMPING}) / n FROM nn) AS rank
        FROM dedges e JOIN r{i} r ON e.u = r.node
        GROUP BY e.v
    )"""
    for i in range(_PAGERANK_ITERS)
)

_PAGERANK_ORACLE = f"""
    WITH {_COORDER_EDGES_SQL.strip()},
    edges AS (
        SELECT u, v FROM oriented UNION ALL SELECT v AS u, u AS v FROM oriented
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    dedges AS (SELECT e.u, e.v, d.deg FROM edges e JOIN deg d ON e.u = d.u),
    r0 AS (SELECT u AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM deg),
    {_PAGERANK_STEPS}
    SELECT node, round(rank, 8) AS pagerank FROM r{_PAGERANK_ITERS}
"""


@register(
    "graph_pagerank_coorder",
    oracle=_PAGERANK_ORACLE,
    tags=("graph", "pagerank", "iterative"),
    bench=True,
)
def graph_pagerank_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK over the parts-co-order graph — the canonical iterative
    graph centrality, 5 fixed power iterations with damping 0.85.  The
    graph is UNDIRECTED (both edge directions materialized), so every
    node has out-degree >= 1 and there is no dangling-node mass to
    redistribute — the rank update is exactly
    r' = (1-d)/N + d * sum(r_u / deg_u over in-neighbors u).

    Float-exactness: the per-edge contribution (rank * d / degree) is
    scalar double math — deterministic — scaled to a FIXED-POINT long
    (round(x·10¹²), the _util.dsum idiom: rank mass ≤ 1 so Σ < 10¹² ≪
    2⁶³) and summed as a primitive int64, so the per-node reduce is
    order-independent and the result hash-matches the DuckDB oracle's
    unrolled-CTE iteration bit-for-bit.  The long accumulator measured
    ~2x faster end-to-end than a DECIMAL(38,12) buffer (same win as
    TPC-H q1's fixed-point aggregation).

    Scale: each iteration is one node-keyed broadcast-or-shuffle join
    (ranks are node-sized, edges are the big side and stay PUT — they are
    localCheckpointed once and re-joined by key each round, never
    re-derived) plus one grouped sum; 5 rounds = 5 edge-keyed shuffles,
    the textbook Pregel schedule expressed as DataFrame ops.  For long
    runs, per-iteration localCheckpoints would bound lineage the same way
    the CC loop does (llm.py dedup_connected_components)."""
    d, iters = _PAGERANK_DAMPING, _PAGERANK_ITERS
    oriented = _coorder_oriented_edges(spark, sf_dir)
    # edges is a NARROW union over the memoized oriented checkpoint — it
    # is cheap to re-derive, so it is not materialized itself (the former
    # eager edges.localCheckpoint() paid a full extra materialization
    # job per call for nothing; guide §1.2).  deg is node-sized and IS
    # checkpointed: it feeds the node count, the src build and the rank
    # init, and the count() on the materialized frame is a metadata-
    # cheap action instead of a full shuffle job.
    edges = oriented.unionAll(
        oriented.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    )
    n_nodes = deg.count()
    if n_nodes == 0:
        # Edgeless graph (empty lineitem): no nodes to rank — return the
        # empty result with the stable (node, pagerank) schema instead of
        # dividing the teleport mass by zero (r11 empty-input hardening).
        return deg.select(
            F.col("u").alias("node"),
            F.lit(None).cast("double").alias("pagerank"),
        )
    base = (1.0 - d) / n_nodes
    # Materialize (edge, degree) ONCE, pre-hashed on the per-iteration
    # join key: every iteration references src, and without the
    # checkpoint the edges⋈deg join re-executes per iteration inside the
    # final 5-deep plan (measured ~2x the whole query's cost); the
    # repartition means each round shuffles only the node-sized ranks,
    # never the edge-sized src.
    src = edges.join(deg, "u").repartition(F.col("u")).localCheckpoint()
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0 / n_nodes).alias("rank"))
    # r19: the per-edge fixed-point scaling goes through half_up_long
    # (sign-aware floor) instead of F.round's per-row BigDecimal — the
    # same swap as _util.fixed, paid here once per EDGE per ITERATION
    # (5x the edge set); rank mass is strictly positive so HALF_UP and
    # floor(x+0.5) coincide, and the equality proof in half_up_long's
    # docstring covers the 1e12-scaled magnitudes (rank <= 1 keeps
    # x < 1e12 << 2^51).  Oracle-exact at all three fixture sfs.
    from discogs_etl_spark.queries._util import half_up_long

    for _ in range(iters):
        contrib = src.join(ranks.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"),
            half_up_long(F.col("rank") * d / F.col("deg") * 1e12).alias("c"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.col("s").cast("double") / 1e12 + F.lit(base)).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 8).alias("pagerank"))


@register(
    "assoc_rules_coorder",
    oracle="""
        WITH op AS (
            SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
            FROM lineitem GROUP BY l_orderkey
            HAVING len(list_distinct(list(l_partkey))) BETWEEN 2 AND 4
        ),
        pairs AS (
            SELECT p1.u, p2.v, COUNT(*) AS n_ab FROM (
                SELECT unnest(ps) AS u, ps FROM op
            ) AS p1, LATERAL (SELECT unnest(p1.ps) AS v) p2
            WHERE p1.u < p2.v GROUP BY p1.u, p2.v HAVING COUNT(*) >= 2
        ),
        items AS (
            SELECT p, COUNT(*) AS cnt
            FROM (SELECT unnest(ps) AS p FROM op) GROUP BY p
        ),
        nn AS (SELECT COUNT(*) AS n FROM op)
        SELECT u, v, n_ab, a.cnt AS n_a, b.cnt AS n_b,
               round(n_ab / CAST(a.cnt AS DOUBLE), 6) AS confidence,
               round(CAST(nn.n AS DOUBLE) * n_ab / (a.cnt * b.cnt), 6) AS lift
        FROM pairs JOIN items a ON u = a.p JOIN items b ON v = b.p CROSS JOIN nn
        ORDER BY lift DESC, u, v LIMIT 20
    """,
    tags=("assoc", "market_basket", "lift"),
)
def assoc_rules_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES (market-basket) over co-ordered parts: pair
    support, confidence, and lift for part pairs appearing in >= 2
    orders, top 20 by lift — the Apriori/FP-growth output for itemsets
    of size 2, which at 100 TB is the only level mined exhaustively
    (higher levels prune through these counts).

    Shares the bounded pair-generation shape with the co-order graph
    family (one order-keyed collect_set aggregation, per-order cap, no
    self-join); per-item supports are one explode + count over the same
    capped baskets, the basket total broadcasts, and all ratios are
    integer-derived doubles (exact on both engines).  Top-20 is a
    TakeOrderedAndProject, never a global sort."""
    parts = _coorder_baskets(spark, sf_dir)
    pairs = (
        parts.select(F.explode(F.expr(_COORDER_PAIR_EXPR)).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    items = parts.select(F.explode("ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    nn = parts.agg(F.count(F.lit(1)).alias("n"))
    ia = items.select(F.col("p").alias("u"), F.col("cnt").alias("n_a"))
    ib = items.select(F.col("p").alias("v"), F.col("cnt").alias("n_b"))
    return (
        pairs.join(ia, "u")
        .join(ib, "v")
        .join(F.broadcast(nn))
        .select(
            "u",
            "v",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n").cast("double") * F.col("n_ab")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@register(
    "agg_mode_per_user",
    oracle="""
        SELECT user_id, event_type AS modal_type, n AS n_events FROM (
            SELECT user_id, event_type, COUNT(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC, event_type) AS rn
            FROM events WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
        ) WHERE rn = 1
    """,
    tags=("agg", "mode", "window"),
)
def agg_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE aggregate — each user's most frequent event type — built as
    count + per-group argmax instead of the engine's ``mode()``, whose
    tie-breaking is UNSPECIFIED (Spark and DuckDB may legally disagree);
    here ties break deterministically on the lexicographically smallest
    type, so the result is replayable and oracle-exact.

    Scale: one (user, type)-keyed count (map-side partials), then a
    WindowGroupLimit argmax over the tiny per-user distribution — the
    window input is users x types, not events."""
    # NULL types out before the tie-break: ASC sorts NULLS FIRST in
    # Spark but NULLS LAST in DuckDB, so a count tie against a NULL
    # group would pick different modes (fixtures non-null; armor)
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("n_events"),
        )
    )


@register(
    "agg_equidepth_deciles",
    oracle="""
        SELECT CAST(gs.i + 1 AS INT) AS decile, round(qs[gs.i + 1], 6) AS boundary
        FROM (SELECT quantile_cont(o_totalprice,
                     [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM orders),
             LATERAL (SELECT unnest(range(9)) AS i) gs
    """,
    tags=("agg", "percentile", "histogram"),
)
def agg_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram boundaries: the nine decile cut points of
    order value — the complement of histogram_fixed_bins (equi-WIDTH):
    equi-depth adapts bin edges to the distribution, which is what query
    optimizers keep as statistics and SREs put on latency dashboards.

    Exactness: EXACT interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` — the same (n-1)·q interpolation over
    identically-sorted doubles, the pairing stats_mad_by_event_type
    pinned); one call computes all nine points in a single pass.

    Scale: exact rank statistics sort the column once (both engines);
    approx_percentile is the documented 100 TB fallback when the exact
    boundary is negotiable."""
    dec = load(spark, sf_dir, "orders").agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(i / 10) for i in range(1, 10)])
        ).alias("qs")
    )
    return dec.select(F.posexplode("qs").alias("d", "b")).select(
        (F.col("d") + 1).cast("int").alias("decile"),
        F.round("b", 6).alias("boundary"),
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL.strip()},
        edges AS (
            SELECT u, v FROM oriented UNION ALL SELECT v AS u, u AS v FROM oriented
        ),
        deg AS (SELECT u AS node, COUNT(*) AS deg FROM edges GROUP BY u),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM oriented e1
            JOIN oriented e2 ON e1.v = e2.u
            JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        tcnt AS (
            SELECT node, COUNT(*) AS t FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        )
        SELECT d.node, d.deg, COALESCE(t.t, 0) AS n_triangles,
               round(2.0 * COALESCE(t.t, 0) / (d.deg * (d.deg - 1)), 6)
                   AS clustering_coeff
        FROM deg d LEFT JOIN tcnt t ON d.node = t.node
        WHERE d.deg >= 2
    """,
    tags=("graph", "triangle", "clustering"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node: 2T(v) / (deg(v)·(deg(v)−1))
    over the co-order graph — "how close is each node's neighborhood to a
    clique", the community-density companion of graph_triangle_count
    (nodes with deg ≥ 2; triangle-free nodes surface with coefficient 0
    via the left join, which a triangle-only pipeline silently drops).

    Scale: same bounded edge build + oriented wedge enumeration as the
    triangle query (edges checkpointed once, semi-join close), plus one
    degree aggregation on the symmetric edge list; the final join is
    node-sized on both sides."""
    edges = _coorder_oriented_edges(spark, sf_dir)
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    e2 = edges.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = edges.join(e2, "v").join(
        edges.select("u", F.col("v").alias("w")), ["u", "w"], "left_semi"
    )
    tcnt = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .where(F.col("deg") >= 2)
        .select(
            "node",
            "deg",
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@register(
    "growth_mom_by_nation",
    oracle="""
        WITH monthly AS (
            SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_fp
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, date_trunc('month', o_orderdate)
        )
        SELECT n_name, month, CAST(rev_fp AS DOUBLE) / 100 AS revenue,
               round(CASE WHEN lag(rev_fp) OVER w IS NOT NULL
                     THEN CAST(rev_fp - lag(rev_fp) OVER w AS DOUBLE)
                          / (lag(rev_fp) OVER w) * 100 END, 4) AS mom_pct
        FROM monthly WINDOW w AS (PARTITION BY n_name ORDER BY month)
    """,
    tags=("window", "growth", "bi"),
)
def growth_mom_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTH-OVER-MONTH revenue growth per nation — the standard BI
    trend shape: aggregate to a (dimension, month) grid, then lag() over
    the grid for the % change (first month NULL).  Revenue accumulates
    as fixed-point cents so the growth ratio divides exact integers.

    Scale: the window runs over the AGGREGATED grid (nations x months —
    thousands of rows at any SF), never the fact table; both dimension
    joins broadcast, and the one real shuffle is the monthly groupBy."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_fp"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    return (
        monthly.withColumn("prev_fp", F.lag("rev_fp").over(w))
        .select(
            "n_name",
            "month",
            (F.col("rev_fp").cast("double") / 100).alias("revenue"),
            F.round(
                F.when(
                    F.col("prev_fp").isNotNull(),
                    (F.col("rev_fp") - F.col("prev_fp")).cast("double")
                    / F.col("prev_fp")
                    * 100,
                ),
                4,
            ).alias("mom_pct"),
        )
    )


@register(
    "users_new_vs_returning",
    oracle="""
        WITH fm AS (
            SELECT user_id, CAST(date_trunc('month', MIN(ts)) AS DATE) AS first_month
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS month
            FROM events
        )
        SELECT month,
               COUNT(*) FILTER (month = first_month) AS new_users,
               COUNT(*) FILTER (month <> first_month) AS returning_users
        FROM act JOIN fm USING (user_id) GROUP BY month
    """,
    tags=("agg", "cohort", "bi"),
)
def users_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW vs RETURNING user split per month — the top-line growth
    decomposition (every active user is "new" in their first-seen month,
    "returning" after), the scalar companion of the full retention
    matrix in events_retention_cohorts.

    Scale: same first-seen decomposition as the cohort query — both
    inputs reduce to user-sized data on the SAME user key before the
    join (one lined-up exchange), and the final groupBy is months-sized."""
    ev = load(spark, sf_dir, "events")
    fm = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("first_month")
    )
    act = ev.select(
        "user_id", F.date_trunc("month", "ts").cast("date").alias("month")
    ).distinct()
    return (
        act.join(fm, "user_id")
        .groupBy("month")
        .agg(
            F.count(F.when(F.col("month") == F.col("first_month"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("month") != F.col("first_month"), 1)).alias(
                "returning_users"
            ),
        )
    )


@register(
    "attribution_first_vs_last",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, value,
                   FIRST_VALUE(event_type) OVER w AS first_touch,
                   LAG(event_type) OVER w AS prev_type
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        pur AS (
            SELECT CAST(round(value, 6) AS DECIMAL(28,6)) AS v, first_touch,
                   COALESCE(prev_type, 'direct') AS last_touch
            FROM seq WHERE event_type = 'purchase'
        ),
        ft AS (SELECT first_touch AS channel, CAST(SUM(v) AS DOUBLE) AS fr
               FROM pur GROUP BY 1),
        lt AS (SELECT last_touch AS channel, CAST(SUM(v) AS DOUBLE) AS lr
               FROM pur GROUP BY 1)
        SELECT COALESCE(ft.channel, lt.channel) AS channel,
               round(COALESCE(fr, 0.0), 6) AS first_touch_revenue,
               round(COALESCE(lr, 0.0), 6) AS last_touch_revenue
        FROM ft FULL OUTER JOIN lt ON ft.channel = lt.channel
    """,
    tags=("window", "attribution", "bi"),
)
def attribution_first_vs_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKETING ATTRIBUTION, first-touch vs last-touch: every purchase's
    value credited (a) to the user's FIRST event type ever and (b) to the
    event type immediately PRECEDING the purchase ('direct' when the
    purchase opens the history) — the two bookend models whose
    disagreement quantifies how much the channel mix narrative depends
    on the attribution choice.

    Scale: one user-keyed window pass computes both touchpoints
    (first_value + lag share the same window frame and shuffle), the
    purchase filter shrinks the stream before the two channel-sized
    aggregates, and the full outer join runs over ~channels rows."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "value",
        F.first("event_type").over(w).alias("first_touch"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pur = seq.where(F.col("event_type") == "purchase").select(
        F.round("value", 6).cast("decimal(28,6)").alias("v"),
        "first_touch",
        F.coalesce("prev_type", F.lit("direct")).alias("last_touch"),
    )
    ft = pur.groupBy(F.col("first_touch").alias("channel")).agg(
        F.sum("v").cast("double").alias("first_touch_revenue")
    )
    lt = pur.groupBy(F.col("last_touch").alias("channel")).agg(
        F.sum("v").cast("double").alias("last_touch_revenue")
    )
    return ft.join(lt, "channel", "full_outer").select(
        "channel",
        F.round(F.coalesce("first_touch_revenue", F.lit(0.0)), 6).alias(
            "first_touch_revenue"
        ),
        F.round(F.coalesce("last_touch_revenue", F.lit(0.0)), 6).alias(
            "last_touch_revenue"
        ),
    )


@register(
    "sessions_max_concurrency",
    bench=True,
    oracle=f"""
        WITH {sessions_sql()}, bounds AS (
            SELECT user_id, session_id,
                   MIN(ts) AS s_start, MAX(ts) AS s_end
            FROM sess GROUP BY user_id, session_id
        ), b AS (
            SELECT CAST(date_trunc('day', t) AS DATE) AS day,
                   t, delta, user_id, session_id
            FROM (
                SELECT user_id, session_id, s_start AS t, 1 AS delta FROM bounds
                UNION ALL
                SELECT user_id, session_id, s_end AS t, -1 AS delta FROM bounds
            )
        ), carry AS (
            SELECT CAST(d AS DATE) AS day, COUNT(*) AS carry_in
            FROM bounds,
                 unnest(generate_series(CAST(date_trunc('day', s_start) AS DATE) + 1,
                                        CAST(date_trunc('day', s_end) AS DATE),
                                        INTERVAL 1 DAY)) AS g(d)
            GROUP BY 1
        ), sweep AS (
            SELECT day, delta,
                   SUM(delta) OVER (PARTITION BY day
                                    ORDER BY t, delta DESC, user_id, session_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
            FROM b
        ), inday AS (
            SELECT day, MAX(run) AS max_run FROM sweep GROUP BY day
        )
        SELECT COALESCE(i.day, c.day) AS day,
               CAST(COALESCE(c.carry_in, 0) AS BIGINT) AS carry_in,
               CAST(COALESCE(c.carry_in, 0)
                    + GREATEST(COALESCE(i.max_run, 0), 0) AS BIGINT)
                   AS max_concurrency
        FROM inday i FULL OUTER JOIN carry c ON i.day = c.day
    """,
    tags=("window", "sessionization", "sweepline", "interval"),
)
def sessions_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval sweep-line: sessions
    (30-min-gap, same definition as sessionization_events) become ±1
    boundary events, a running sum is the live-concurrency curve, and its
    daily max is the capacity-planning number.  Midnight-crossing sessions
    contribute CARRY-IN: sessions spanning a whole day are counted by an
    explode over their covered days (bounded by session length — never an
    inequality join of days × sessions), so each day's sweep is
    self-contained: concurrency(t) = carry_in + prefix_sum(t).

    Tie convention (pinned identically in both engines): at one instant,
    session starts order before session ends (delta DESC), so touching
    sessions count as overlapping; user_id/session_id break exact ties.

    Scale: the sweep window partitions by DAY, so no global sort; if one
    day is still too big, the same two-pass trick applies fractally —
    sub-partition by hour, sweep each, then cumulate the 24 per-hour
    totals as hour-level carry (the standard distributed prefix-sum)."""
    return _max_concurrency(_session_bounds(spark, sf_dir))


def _session_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_id, s_start, s_end) of every session, checkpointed.

    Materialized once because every consumer (the sweep's starts, ends
    and carry, and the Little's-law report) references this subtree, and
    Spark does not share common subplans across DataFrame branches:
    unshared, the events scan and both sessionization windows ran once
    per consumer.  The bounds are sessions-sized (≪ events), so the
    checkpoint holds only the small interval table."""
    sess = _sessionize(load(spark, sf_dir, "events"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .localCheckpoint()
    )


def _max_concurrency(bounds: DataFrame) -> DataFrame:
    """(day, carry_in, max_concurrency) of the session ``bounds``: the
    day-partitioned sweep of sessions_max_concurrency."""
    starts = bounds.select(
        "user_id", "session_id", F.col("s_start").alias("t"), F.lit(1).alias("delta")
    )
    ends = bounds.select(
        "user_id", "session_id", F.col("s_end").alias("t"), F.lit(-1).alias("delta")
    )
    b = starts.unionAll(ends).withColumn(
        "day", F.date_trunc("day", "t").cast("date")
    )
    # Midnight-crossers only: Spark's sequence(start, stop) DESCENDS when
    # start > stop (same-day sessions would fabricate carry days), while
    # DuckDB's generate_series returns empty — the filter pins both to
    # "days strictly after the start day, through the end day".
    s_day = F.date_trunc("day", "s_start").cast("date")
    e_day = F.date_trunc("day", "s_end").cast("date")
    carry = (
        bounds.where(e_day > s_day)
        .select(F.explode(F.sequence(F.date_add(s_day, 1), e_day)).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("carry_in"))
    )
    wsweep = Window.partitionBy("day").orderBy(
        F.asc("t"), F.desc("delta"), F.asc("user_id"), F.asc("session_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inday = (
        b.withColumn("run", F.sum("delta").over(wsweep))
        .groupBy("day")
        .agg(F.max("run").alias("max_run"))
    )
    j = inday.alias("i").join(carry.alias("c"), "day", "full_outer")
    return j.select(
        F.col("day"),
        F.coalesce(F.col("carry_in"), F.lit(0)).cast("bigint").alias("carry_in"),
        (
            F.coalesce(F.col("carry_in"), F.lit(0))
            + F.greatest(F.coalesce(F.col("max_run"), F.lit(0)), F.lit(0))
        )
        .cast("bigint")
        .alias("max_concurrency"),
    )


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL},
        {_LPA_SQL}
        SELECT label AS community,
               COUNT(*) AS n_members,
               MIN(node) AS min_node
        FROM r3 GROUP BY label
    """,
    tags=("graph", "community", "label_propagation"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007), 3 fixed rounds over the parts co-order graph: every node
    adopts the most frequent label among its neighbors, ties broken by
    smallest label — the deterministic variant (classic LPA's random
    tie-breaks and async order don't replay across engines or runs).
    Output: one row per surviving community with its size.

    Completes the graph family's spectrum: connected components finds
    REACHABILITY equivalence, LPA finds DENSITY clusters inside a
    component, PageRank ranks within them.

    Scale: each round is one edge-sized shuffle join (labels by node) +
    one (node, label) count + one node-partitioned argmax window — the
    Pregel superstep shape; rounds are fixed (3) so the plan is static,
    no driver-side convergence actions (contrast
    dedup_connected_components, where convergence IS the contract)."""
    _und, labels = _label_propagation(_coorder_oriented_edges(spark, sf_dir))
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_node"),
    )


@register(
    "agg_weighted_median",
    oracle="""
        WITH t AS (
            SELECT l_returnflag AS flag, l_extendedprice AS price,
                   CAST(l_quantity AS DECIMAL(18,2)) AS w
            FROM lineitem
        ),
        c AS (
            SELECT flag, price,
                   SUM(w) OVER (PARTITION BY flag ORDER BY price) AS cw,
                   SUM(w) OVER (PARTITION BY flag) AS tw
            FROM t
        )
        SELECT flag,
               MIN(price) AS weighted_median,
               CAST(ANY_VALUE(tw) AS DOUBLE) AS total_weight
        FROM c
        WHERE 2 * cw >= tw
        GROUP BY flag
    """,
    tags=("agg", "percentile", "weighted"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median: the price at which half the total QUANTITY (not
    half the rows) sits on each side, per return flag — the
    inventory-weighted central price percentile_cont can't express
    (it weights every row equally).  First price whose cumulative weight
    reaches half the group total.

    Scale: one flag-partitioned cumulative window over the price sort;
    weights accumulate as DECIMAL so the crossing test 2·cum ≥ total is
    exact integer-like arithmetic in both engines (no double running
    sums); RANGE framing makes price-ties share a cumulative value."""
    t = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("decimal(18,2)").alias("w"),
    )
    wcum = Window.partitionBy("flag").orderBy("price")
    wall = Window.partitionBy("flag")
    c = t.select(
        "flag",
        "price",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        c.where(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.first("tw").cast("double").alias("total_weight"),
        )
    )


@register(
    "window_gap_islands",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        g AS (
            SELECT user_id, d,
                   d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                            AS INTEGER) AS grp
            FROM act
        )
        SELECT user_id, streak_start, streak_end, streak_days FROM (
            SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end,
                   COUNT(*) AS streak_days
            FROM g GROUP BY user_id, grp
        )
        ORDER BY streak_days DESC, user_id, streak_start
        LIMIT 20
    """,
    tags=("window", "gaps_islands", "streaks"),
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-day activity streaks — the
    canonical rn-difference trick (a run of consecutive days shares
    day − row_number), which turns streak detection into a plain GROUP BY
    with no iterative logic.  Top-20 streaks with their spans.

    Scale: one user-partitioned window over per-(user, day) DISTINCT
    activity (already reduced from raw events), one grouped aggregate on
    the derived island key, and a 20-row TakeOrderedAndProject — the
    user-keyed shuffle is shared by the window and the distinct."""
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    g = act.withColumn(
        "grp",
        F.date_sub(
            "d",
            F.row_number().over(Window.partitionBy("user_id").orderBy("d")),
        ),
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy(F.desc("streak_days"), F.asc("user_id"), F.asc("streak_start"))
        .limit(20)
    )


@register(
    "agg_approx_percentile_eval",
    oracle="""
        SELECT event_type,
               round(quantile_disc(value, 0.49), 4) AS p50_lo,
               round(quantile_disc(value, 0.51), 4) AS p50_hi,
               1 AS within_bounds
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "percentile", "approx", "sketch", "invariant"),
)
def agg_approx_percentile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile ACCURACY EVAL, self-verifying (the
    similarity_ivf_topk pattern for sketches): Spark's approximate median
    (accuracy=100 → rank error ≤ 1%) is checked against the EXACT
    discrete quantiles at 0.49/0.51 — the algorithm's guarantee says the
    approximate median's value must lie within that rank window, so
    `within_bounds` must be 1 for every group.  The oracle recomputes the
    exact bounds and asserts the flag; the approximate value itself is
    deliberately NOT emitted (sketch internals are engine-specific — the
    guarantee, not the estimate, is the cross-engine contract).

    Scale: this is the operator you actually run at 100 TB — the exact
    per-group sort (agg_percentiles_price) becomes a bounded-memory
    mergeable sketch; this query keeps its honesty measurable."""
    ex = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.round(
            F.expr("percentile_disc(0.49) WITHIN GROUP (ORDER BY value)"), 4
        ).alias("p50_lo"),
        F.round(
            F.expr("percentile_disc(0.51) WITHIN GROUP (ORDER BY value)"), 4
        ).alias("p50_hi"),
        F.expr("approx_percentile(value, 0.5, 100)").alias("apx"),
    )
    return ex.select(
        "event_type",
        "p50_lo",
        "p50_hi",
        (
            (F.col("apx") >= F.col("p50_lo")) & (F.col("apx") <= F.col("p50_hi"))
        )
        .cast("int")
        .alias("within_bounds"),
    )


@register(
    "window_rolling_percentile_7d",
    oracle="""
        WITH e AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, value
            FROM events WHERE event_type = 'purchase'
        ),
        grid AS (SELECT DISTINCT d FROM e),
        fan AS (
            SELECT CAST(g.wd AS DATE) AS wd, e.value
            FROM e, unnest(generate_series(e.d, e.d + 6, INTERVAL 1 DAY)) AS g(wd)
            WHERE CAST(g.wd AS DATE) IN (SELECT d FROM grid)
        )
        SELECT wd AS day,
               COUNT(*) AS n_values,
               round(quantile_cont(value, 0.95), 4) AS p95_7d
        FROM fan GROUP BY wd
    """,
    tags=("window", "percentile", "rolling", "timeseries"),
)
def window_rolling_percentile_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day EXACT p95 of purchase values per day — the rolling
    percentile a RANGE window can't do cheaply (percentile isn't an
    incremental window aggregate; per-row re-sorts are quadratic).
    Instead each event FANS OUT to the ≤7 report days it influences
    (map-side, bounded ×7), then one plain per-day percentile aggregate —
    the standard rewrite that turns a sliding non-decomposable aggregate
    into a grouped one.

    Scale: fan-out is a constant factor (window/step = 7), the aggregate
    shuffles on the day key with exact percentile per day; the day grid
    membership filter is a broadcast semi-join against a calendar-bounded
    set.  For wider windows at 100 TB, swap the exact percentile for the
    mergeable sketch (agg_approx_percentile_eval)."""
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.date_trunc("day", "ts").cast("date").alias("d"), "value")
    )
    grid = e.select("d").distinct()
    fan = e.select(
        F.explode(F.sequence("d", F.date_add("d", 6))).alias("wd"), "value"
    ).join(grid.select(F.col("d").alias("wd")), "wd", "left_semi")
    return fan.groupBy(F.col("wd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_7d"),
    )


@register(
    "scalar_higher_order_maps",
    oracle="""
        WITH tf AS (
            SELECT doc_id, t.term, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY doc_id, t.term
        ),
        tot AS (
            SELECT doc_id, SUM(cnt) AS total FROM tf GROUP BY doc_id
        )
        SELECT tf.doc_id, tf.term,
               CAST(tf.cnt AS BIGINT) AS cnt,
               round(tf.cnt / CAST(tot.total AS DOUBLE), 6) AS rel_freq
        FROM tf JOIN tot USING (doc_id)
        WHERE tf.cnt >= 3
    """,
    tags=("scalar", "map", "higher_order"),
)
def scalar_higher_order_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order functions (§2.9, the map-side of
    scalar_higher_order_arrays): per-document term-frequency MAPS built
    with map_from_entries, pruned with map_filter (count ≥ 3), rescaled
    with transform_values (relative frequency), then exploded back to
    rows.  The oracle computes the same result relationally — map ops
    are a Spark representation choice, not a semantic extension, which
    is exactly what makes them safely testable cross-engine.

    Scale: the map lives inside one row (per doc) — no shuffle grows;
    aggregation-to-map and explode are both row-local around the single
    (doc, term) count shuffle."""
    tf = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    as_map = tf.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "cnt"))
        ).alias("tfmap")
    )
    pruned = as_map.select(
        "doc_id",
        F.map_filter("tfmap", lambda k, v: v >= 3).alias("tfmap"),
    ).withColumn(
        "total",
        F.aggregate(
            F.map_values("tfmap"), F.lit(0).cast("long"), lambda a, v: a + v
        ),
    )
    # total of the PRUNED map would change semantics: rescale against the
    # full doc length, carried from the pre-filter counts.
    doc_tot = tf.groupBy("doc_id").agg(F.sum("cnt").alias("doc_total"))
    rel = (
        pruned.join(doc_tot, "doc_id")
        .select(
            "doc_id",
            F.transform_values(
                "tfmap", lambda k, v: F.round(v / F.col("doc_total").cast("double"), 6)
            ).alias("relmap"),
            "tfmap",
        )
        .select(
            "doc_id",
            F.explode("tfmap").alias("term", "cnt"),
            F.col("relmap"),
        )
        .select(
            "doc_id",
            "term",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.element_at("relmap", F.col("term")).alias("rel_freq"),
        )
    )
    return rel


@register(
    "table_diff_snapshots",
    oracle="""
        WITH a AS (
            SELECT o_custkey AS k, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        ),
        b AS (
            SELECT o_custkey AS k, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tot
            FROM orders GROUP BY 1
        )
        SELECT b.k AS o_custkey,
               CASE WHEN a.k IS NULL THEN 'insert' ELSE 'update' END AS change_type,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS old_n_orders,
               CAST(b.n AS BIGINT) AS new_n_orders,
               COALESCE(a.tot, 0.0) AS old_total,
               b.tot AS new_total
        FROM b LEFT JOIN a ON a.k = b.k
        WHERE a.k IS NULL OR a.n <> b.n
    """,
    tags=("cdc", "diff", "reconciliation"),
)
def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF (the change-data-capture readout Delta/Iceberg CDF
    gives you, computed relationally): per-customer order aggregates "as
    of" 1998-01-01 vs the current snapshot, emitting insert/update rows
    with old→new values — the reconciliation operator behind incremental
    loads and audit diffs.  Unchanged keys are suppressed; this dataset
    is append-only, so the delete branch (old key absent from the new
    snapshot — a full-outer's left-null side) cannot occur and the join
    is a left join from the new snapshot.

    Scale: both snapshots reduce to per-key aggregates BEFORE the diff
    join (never row-level full-outer on the raw fact), so the join is
    key-cardinality-sized; both aggregations share the o_custkey
    shuffle.  DECIMAL totals make old/new comparable exactly."""
    o = load(spark, sf_dir, "orders")
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("tot"),
    ]
    a = (
        o.where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(*agg)
    )
    b = o.groupBy(F.col("o_custkey").alias("k")).agg(*agg)
    j = b.alias("b").join(a.alias("a"), "k", "left")
    return j.where(
        F.col("a.n").isNull() | (F.col("a.n") != F.col("b.n"))
    ).select(
        F.col("k").alias("o_custkey"),
        F.when(F.col("a.n").isNull(), "insert").otherwise("update").alias("change_type"),
        F.coalesce(F.col("a.n"), F.lit(0)).cast("bigint").alias("old_n_orders"),
        F.col("b.n").cast("bigint").alias("new_n_orders"),
        F.coalesce(F.col("a.tot"), F.lit(0.0)).alias("old_total"),
        F.col("b.tot").alias("new_total"),
    )


@register(
    "join_range_band_pricing",
    oracle="""
        WITH bands AS (
            SELECT * FROM (VALUES
                ('budget',   0.0,     50000.0),
                ('standard', 50000.0, 150000.0),
                ('premium',  150000.0, 300000.0),
                ('luxury',   300000.0, 1e18)
            ) AS t(tier, lo, hi)
        )
        SELECT b.tier,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN bands b
          ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.tier
    """,
    tags=("join", "range_band", "inequality"),
)
def join_range_band_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-BAND lookup join: each order lands in the pricing tier whose
    [lo, hi) interval contains its total — the inequality-join-against-a-
    tiny-dimension pattern (tax brackets, SLA tiers, risk bands).  Spark
    executes it as a BroadcastNestedLoopJoin — the DELIBERATE keyless-
    broadcast shape (4-row build side; cost = fact × 4 comparisons,
    map-only, no shuffle), same family as the k-means centroid and
    brute-force-similarity broadcasts the plan audit documents.

    At 100 TB this stays optimal while the band table is small; if bands
    grow into the thousands, rewrite as a bucketed equi-join on
    width_bucket-style precomputed band ids.

    Non-overlapping, gap-free bands are the stated contract (each order
    matches exactly one tier) — revenue then partitions exactly."""
    bands = local_frame(
        spark,
        [
            ("budget", 0.0, 50_000.0),
            ("standard", 50_000.0, 150_000.0),
            ("premium", 150_000.0, 300_000.0),
            ("luxury", 300_000.0, 1e18),
        ],
        "tier string, lo double, hi double",
    )
    o = load(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(bands),
            (o["o_totalprice"] >= bands["lo"]) & (o["o_totalprice"] < bands["hi"]),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "scalar_try_safe_casts",
    oracle="""
        SELECT doc_id,
               TRY_CAST(source AS BIGINT) AS src_as_int,
               TRY_CAST(substr(text, 1, 4) AS DOUBLE) AS head_as_double,
               COALESCE(TRY_CAST(lang AS BIGINT), -1) AS lang_as_int_or_default,
               CAST(floor(n_chars / NULLIF(len(string_split(text, ' ')), 0))
                    AS BIGINT) AS chars_per_token
        FROM documents
    """,
    tags=("scalar", "try_cast", "null_safety"),
)
def scalar_try_safe_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant cast surface (§2.9): try_cast returns NULL instead
    of failing the job on malformed input — the difference between a
    100 TB ingest that survives one bad row and one that dies at hour 9
    (ANSI mode makes plain CAST throw; try_* is the sanctioned escape),
    plus the NULLIF-guarded division idiom for zero denominators.
    All-NULL columns here are the honest result: the fixture's source /
    lang values aren't numeric, which is exactly the malformed-input
    case the operator exists for."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("source").try_cast("bigint").alias("src_as_int"),
        F.substring("text", 1, 4).try_cast("double").alias("head_as_double"),
        F.coalesce(F.col("lang").try_cast("bigint"), F.lit(-1)).alias(
            "lang_as_int_or_default"
        ),
        F.floor(
            F.col("n_chars")
            / F.nullif(F.size(F.split("text", " ")), F.lit(0))
        )
        .cast("bigint")
        .alias("chars_per_token"),
    )


@register(
    "orders_duplicate_payments",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
                   CAST(floor(o_totalprice / 1000) AS BIGINT) AS blk
            FROM orders
        ),
        probe AS (
            SELECT o.*, blk + dd.dd AS jblk
            FROM o, (SELECT unnest([-1, 0, 1]) AS dd) dd
        )
        SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
               a.o_custkey AS o_custkey,
               round(abs(a.o_totalprice - b.o_totalprice), 2) AS amount_diff,
               CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT) AS days_apart
        FROM probe a JOIN o b
          ON a.o_custkey = b.o_custkey AND a.jblk = b.blk
         AND a.o_orderkey < b.o_orderkey
        WHERE abs(a.o_totalprice - b.o_totalprice) <= 100.0
          AND abs(date_diff('day', a.d, b.d)) <= 90
    """,
    tags=("entity_resolution", "blocking", "fraud"),
)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection (entity-resolution blocking): pairs of
    orders from the SAME customer with totals within $100 and dates
    within 90 days.  The similarity join is made EXACT and equi-keyed by
    NEIGHBOR-BLOCK blocking: amounts bucket by $1000, and each probe row
    fans out to its own and both adjacent blocks — a qualifying pair can
    differ by at most one block boundary, so no false negatives, and the
    join never compares across customers or distant amounts.  Each
    qualifying pair matches in EXACTLY one (probe-block = build-block)
    combination, so no post-join dedup is needed.

    Scale: ×3 bounded fan-out on the probe side only; the join key
    (custkey, block) keeps candidate sets tiny under any amount
    distribution; date/amount tolerances are residual filters.  The
    same shape generalizes to any banded numeric tolerance (blocking =
    tolerance-width buckets + neighbor probe)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("blk"),
    )
    probe = o.select(
        "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dd")
    ).withColumn("jblk", F.col("blk") + F.col("dd"))
    a, b = probe.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.jblk") == F.col("b.blk"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            (F.abs(F.col("a.o_totalprice") - F.col("b.o_totalprice")) <= 100.0)
            & (F.abs(F.datediff(F.col("a.d"), F.col("b.d"))) <= 90)
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            F.round(F.abs(F.col("a.o_totalprice") - F.col("b.o_totalprice")), 2).alias(
                "amount_diff"
            ),
            F.abs(F.datediff(F.col("a.d"), F.col("b.d"))).cast("bigint").alias(
                "days_apart"
            ),
        )
    )


@register(
    "skyline_pareto_frontier",
    oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
                   o_totalprice,
                   CAST(date_trunc('day', o_orderdate) AS DATE) AS d
            FROM orders
        ),
        w AS (
            SELECT o_orderkey, o_totalprice, d, pc,
                   MAX(d) OVER (PARTITION BY pc) AS eq_max,
                   MAX(d) OVER (ORDER BY pc
                                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS lt_max
            FROM o
        )
        SELECT o_orderkey, o_totalprice, d AS o_orderdate
        FROM w
        WHERE d = eq_max AND (lt_max IS NULL OR d > lt_max)
    """,
    tags=("skyline", "pareto", "window"),
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) on (minimize price, maximize recency):
    the orders no other order beats on both axes — the multi-objective
    dominance operator (Börzsönyi et al. 2001) behind "cheapest AND
    freshest" shortlists.  The 2-D case needs NO pairwise comparison:
    sorted by price, a point survives iff its date strictly exceeds the
    running max date over all STRICTLY cheaper points (RANGE frame to 1
    preceding cent) and it carries its own price-tie group's max date —
    dominance collapses into two window maxes.

    Scale: prices are keyed to integer cents so the strict-predecessor
    frame is an exact RANGE window; the global ordered window distributes
    by the usual two-pass trick (range-partition by price, per-partition
    running max + carried prefix max — the sweep-line / prefix-sum
    shape).  d-dimensional skylines (d > 2) need the block-nested or
    sort-filter-skyline algorithms instead; this is the window-native
    special case."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
        "o_totalprice",
        F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
    )
    w_eq = Window.partitionBy("pc")
    w_lt = Window.orderBy("pc").rangeBetween(Window.unboundedPreceding, -1)
    w = o.select(
        "o_orderkey",
        "o_totalprice",
        "d",
        F.max("d").over(w_eq).alias("eq_max"),
        F.max("d").over(w_lt).alias("lt_max"),
    )
    return w.where(
        (F.col("d") == F.col("eq_max"))
        & (F.col("lt_max").isNull() | (F.col("d") > F.col("lt_max")))
    ).select("o_orderkey", "o_totalprice", F.col("d").alias("o_orderdate"))


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL},
        und AS (
            SELECT u AS a, v AS b FROM oriented
            UNION ALL
            SELECT v AS a, u AS b FROM oriented
        ),
        deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
        common AS (
            SELECT x.a AS u, y.a AS v, COUNT(*) AS cn
            FROM und x JOIN und y ON x.b = y.b AND x.a < y.a
            GROUP BY x.a, y.a
        ),
        cand AS (
            SELECT c.u, c.v, c.cn, du.d AS du, dv.d AS dv
            FROM common c
            JOIN deg du ON du.node = c.u
            JOIN deg dv ON dv.node = c.v
            ANTI JOIN oriented o ON o.u = c.u AND o.v = c.v
        )
        SELECT u, v, CAST(cn AS BIGINT) AS common_neighbors,
               round(cn / CAST(du + dv - cn AS DOUBLE), 6) AS jaccard
        FROM cand
        ORDER BY jaccard DESC, u, v
        LIMIT 20
    """,
    tags=("graph", "link_prediction", "jaccard"),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by neighborhood Jaccard: for part pairs NOT yet
    co-ordered, score |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| — the classic
    common-neighbors recommender ("parts likely to be ordered together
    next"), top-20.  Candidates come from the 2-hop wedge join (pairs
    sharing ≥1 neighbor), existing edges are removed by an ANTI join —
    the graph-completion counterpart of the family's descriptive ops
    (triangles, LPA, PageRank).

    Scale: the wedge join is the triangle-count shape (explodes on hub
    nodes — cap or sample hub adjacency lists past a degree bound, the
    standard mitigation); degrees broadcast; the anti-join is edge-keyed.
    Never materializes the quadratic non-edge set — only wedge-connected
    pairs are ever candidates."""
    oriented = _coorder_oriented_edges(spark, sf_dir)
    und = oriented.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        oriented.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    # r19: wedge enumeration via per-neighbor ADJACENCY LISTS instead of
    # the exploded self-join on the shared endpoint (the shingle
    # posting-pair shape, llm._posting_pair_counts): one collect_list
    # per hub + in-list (i, j>i) emission builds the edge subtree once
    # and drops the join machinery — result-identical pair multiset
    # (sorted lists, u < v by construction), A/B'd equal and 3.1 ->
    # 2.6 s at sf0.1.  Hub skew is the same hot key either way; the
    # degree-cap mitigation in the docstring applies unchanged.
    posts = (
        und.groupBy("b")
        .agg(F.sort_array(F.collect_list("a")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    common = (
        posts.select(F.posexplode("ds").alias("i", "u"), "ds")
        .select(
            "u",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        common.join(oriented, ["u", "v"], "left_anti")
        .join(F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    jac = F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
    return (
        cand.select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@register(
    "scalar_business_days_gap",
    oracle="""
        WITH j AS (
            SELECT l.l_orderkey, l.l_linenumber,
                   date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', o.o_orderdate) AS DATE)) AS na,
                   date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', l.l_shipdate) AS DATE)) AS nb
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT l_orderkey, l_linenumber,
               CAST(nb - na AS BIGINT) AS calendar_days,
               CAST((5 * (nb // 7) + least((nb % 7) + 1, 5))
                    - (5 * (na // 7) + least((na % 7) + 1, 5)) AS BIGINT)
                   AS business_days
        FROM j
        WHERE nb >= na
    """,
    tags=("scalar", "calendar", "business_days"),
)
def scalar_business_days_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-day gap between order and ship date, closed-form: both
    dates map to day numbers since a Monday epoch (1970-01-05), and
    f(n) = 5·(n div 7) + min(n mod 7 + 1, 5) counts business days from
    the epoch through day n — the gap is f(ship) − f(order), no calendar
    table, no per-day explode.  Day numbers avoid the engines'
    incompatible day-of-week conventions (Spark's dayofweek is
    1=Sunday, DuckDB's isodow is 1=Monday; epoch-day arithmetic is
    convention-free and holiday tables join in as an optional subtrahend).

    Scale: map-only over the order-ship join (the join itself is the
    orderkey equi-join q4/q12 share); the closed form is why this works
    at 100 TB where an explode-the-days rewrite (O(rows × gap)) would
    not."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    epoch = F.lit("1970-01-05").cast("date")
    na = F.datediff(F.date_trunc("day", "o_orderdate").cast("date"), epoch)
    nb = F.datediff(F.date_trunc("day", "l_shipdate").cast("date"), epoch)
    def f(n):
        return 5 * F.floor(n / 7) + F.least(n % 7 + 1, F.lit(5))
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_linenumber", na.alias("na"), nb.alias("nb")
    )
    return j.where(F.col("nb") >= F.col("na")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("nb") - F.col("na")).cast("bigint").alias("calendar_days"),
        (f(F.col("nb")) - f(F.col("na"))).cast("bigint").alias("business_days"),
    )


@register(
    "inventory_abc_xyz_matrix",
    oracle="""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem GROUP BY l_partkey
        ),
        abc AS (
            SELECT l_partkey,
                   CASE WHEN cum <= 0.8 THEN 'A'
                        WHEN cum <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
            FROM (
                SELECT l_partkey,
                       CAST(SUM(CAST(revenue AS DECIMAL(18,2)))
                                OVER (ORDER BY revenue DESC, l_partkey) AS DOUBLE)
                       / (SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
                          FROM rev) AS cum
                FROM rev
            )
        ),
        weekly AS (
            SELECT l_partkey,
                   CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        xyz AS (
            SELECT l_partkey,
                   CASE WHEN n < 2 THEN 'Z'
                        WHEN sqrt(greatest((sq - s * s / n) / (n - 1), 0))
                             / (s / n) < 0.5 THEN 'X'
                        WHEN sqrt(greatest((sq - s * s / n) / (n - 1), 0))
                             / (s / n) < 1.0 THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM (
                SELECT l_partkey, COUNT(*) AS n,
                       CAST(SUM(CAST(round(q, 2) AS DECIMAL(18,2))) AS DOUBLE) AS s,
                       CAST(SUM(CAST(round(q * q, 4) AS DECIMAL(38,4))) AS DOUBLE)
                           AS sq
                FROM weekly GROUP BY l_partkey
            )
        )
        SELECT abc_class, xyz_class, COUNT(*) AS n_parts
        FROM abc JOIN xyz USING (l_partkey)
        GROUP BY abc_class, xyz_class
    """,
    tags=("inventory", "abc_xyz", "classification"),
)
def inventory_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: parts classified by cumulative revenue
    share (A = first 80%, B = to 95%, C = tail — the Pareto cut) crossed
    with demand VARIABILITY (coefficient of variation of weekly shipped
    quantity: X < 0.5 steady, Y < 1.0, Z erratic or single-week) — the
    9-cell planning grid (AX = automate replenishment, CZ = stock to
    order).  Weeks with no demand are absent rather than zero-filled
    (observed-week CV; the zero-filled variant joins the
    timeseries_locf_fill spine first).

    Scale: the revenue ranking is one cumulative window over the
    PART-level rollup (part-cardinality-sized, not lineitem-sized); the
    CV pass is two stacked aggregations (part,week → part) sharing the
    part-key shuffle; the final join is part-keyed and the output is 9
    rows.  All sums DECIMAL; the CV's variance uses the same
    guarded-nonnegative formula as stats_welch_ttest."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("double")
        .alias("revenue")
    )
    tot = rev.agg(
        F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double").alias("t")
    )
    wcum = Window.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    abc = (
        rev.withColumn(
            "cumrev", F.sum(F.col("revenue").cast("decimal(18,2)")).over(wcum).cast("double")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            F.when(F.col("cumrev") / F.col("t") <= 0.8, "A")
            .when(F.col("cumrev") / F.col("t") <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").cast("date").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q"))
    stats = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("q", 2).cast("decimal(18,2)")).cast("double").alias("s"),
        F.sum(F.round(F.col("q") * F.col("q"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sq"),
    )
    cv = F.sqrt(
        F.greatest(
            (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1),
            F.lit(0.0),
        )
    ) / (F.col("s") / F.col("n"))
    xyz = stats.select(
        "l_partkey",
        F.when(F.col("n") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "bandit_greedy_replay",
    oracle="""
        WITH m AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sv
            FROM events GROUP BY 1, 2
        ),
        hist AS (
            SELECT day, event_type,
                   round(sv / n, 6) AS realized,
                   SUM(sv) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS cum_sv,
                   SUM(n) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS cum_n
            FROM m
        ),
        scored AS (
            SELECT day, event_type, realized,
                   round(cum_sv / cum_n, 6) AS prev_mean,
                   ROW_NUMBER() OVER (PARTITION BY day
                                      ORDER BY round(cum_sv / cum_n, 6) DESC,
                                               event_type) AS rn
            FROM hist WHERE cum_n IS NOT NULL AND cum_n > 0
        ),
        best AS (
            SELECT day, MAX(realized) AS best_realized FROM hist GROUP BY day
        )
        SELECT s.day, s.event_type AS chosen_arm,
               s.prev_mean AS expected,
               s.realized,
               b.best_realized,
               round(b.best_realized - s.realized, 6) AS regret
        FROM scored s JOIN best b ON s.day = b.day
        WHERE s.rn = 1
    """,
    tags=("policy_eval", "bandit", "replay"),
)
def bandit_greedy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE POLICY REPLAY of a greedy bandit: each day the policy
    "pick the event type with the best historical mean value" is scored
    against what that arm actually returned that day, with per-day
    regret vs the (hindsight) best arm — the deterministic skeleton of
    off-policy evaluation: the policy, the replay, and the regret curve
    are all relational, no simulation loop.  Day 1 has no history and is
    excluded (the cold-start the ε-greedy variant would randomize over).

    Scale: one (day, arm) aggregate over the events (the only data-sized
    shuffle), then arm-partitioned running sums over the calendar-bounded
    grid, a per-day argmax window, and a day-keyed join — everything
    after the rollup is days × arms small."""
    m = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double").alias("sv"),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = m.select(
        "day",
        "event_type",
        F.round(F.col("sv") / F.col("n"), 6).alias("realized"),
        F.sum("sv").over(wprev).alias("cum_sv"),
        F.sum("n").over(wprev).alias("cum_n"),
    )
    prev_mean = F.round(F.col("cum_sv") / F.col("cum_n"), 6)
    wday = Window.partitionBy("day").orderBy(F.desc("prev_mean"), F.asc("event_type"))
    scored = (
        hist.where(F.col("cum_n").isNotNull() & (F.col("cum_n") > 0))
        .withColumn("prev_mean", prev_mean)
        .withColumn("rn", F.row_number().over(wday))
        .where(F.col("rn") == 1)
    )
    best = hist.groupBy("day").agg(F.max("realized").alias("best_realized"))
    return scored.join(best, "day").select(
        "day",
        F.col("event_type").alias("chosen_arm"),
        F.col("prev_mean").alias("expected"),
        "realized",
        "best_realized",
        F.round(F.col("best_realized") - F.col("realized"), 6).alias("regret"),
    )


@register(
    "recsys_holdout_hitrate",
    oracle="""
        WITH op AS (
            SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
            FROM lineitem GROUP BY l_orderkey
            HAVING len(list_distinct(list(l_partkey))) BETWEEN 2 AND 4
        ),
        wpairs AS (
            SELECT u, v, COUNT(*) AS c FROM (
                SELECT p1.u, p2.v FROM (
                    SELECT unnest(ps) AS u, ps FROM op
                ) p1, LATERAL (SELECT unnest(p1.ps) AS v) p2
                WHERE p1.u < p2.v
            ) GROUP BY u, v
        ),
        split AS (
            SELECT l_orderkey, ps[len(ps)] AS holdout, ps[1:len(ps)-1] AS ctx
            FROM op
        ),
        ctxe AS (
            SELECT l_orderkey, holdout, unnest(ctx) AS cpart, ctx FROM split
        ),
        cand AS (
            SELECT e.l_orderkey, e.holdout,
                   CASE WHEN w.u = e.cpart THEN w.v ELSE w.u END AS candidate,
                   w.c
            FROM ctxe e JOIN wpairs w ON w.u = e.cpart OR w.v = e.cpart
            WHERE NOT list_contains(e.ctx,
                      CASE WHEN w.u = e.cpart THEN w.v ELSE w.u END)
        ),
        scoredc AS (
            SELECT l_orderkey, holdout, candidate, SUM(c) AS score
            FROM cand GROUP BY 1, 2, 3
        ),
        topk AS (
            SELECT l_orderkey, holdout, candidate FROM (
                SELECT l_orderkey, holdout, candidate,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                          ORDER BY score DESC, candidate) AS rn
                FROM scoredc
            ) WHERE rn <= 3
        )
        SELECT (SELECT COUNT(*) FROM split) AS n_baskets,
               CAST(COUNT(DISTINCT CASE WHEN candidate = holdout
                                        THEN l_orderkey END) AS BIGINT) AS n_hits,
               round(CASE WHEN (SELECT COUNT(*) FROM split) <> 0
                          THEN COUNT(DISTINCT CASE WHEN candidate = holdout
                                                   THEN l_orderkey END)
                               / CAST((SELECT COUNT(*) FROM split) AS DOUBLE)
                     END, 6)
                   AS hit_rate_at_3
        FROM topk
    """,
    tags=("recsys", "eval", "hitrate"),
)
def recsys_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-order recommender EVALUATED by leave-one-out holdout: from each
    2-4-part basket, hide the largest part id, score candidates by
    summed co-order counts with the remaining context parts, and measure
    hit-rate@3 — the evaluation harness for the
    graph_link_prediction_jaccard / assoc_rules_coorder family (scores
    without a metric are vibes).  Counts include the evaluated basket's
    own pairs (in-corpus fit; a time-split replaces the pair table with
    a past-window one for true generalization — same plan, different
    filter).

    Scale: the weighted pair table is the co-order edge build with
    counts; candidate generation probes context parts against it as an
    EXPLICIT union of two hash equi-joins (one per pair side) — never
    an OR-of-equalities join, which Catalyst does NOT decompose into
    equi-probes but nested-loops (the r10 sf0.1 timing sweep measured
    the OR form at 111 s vs ~4 s for this union; the
    mirrored-pair-table single-join alternative measured 1.7× slower —
    see the inline comment); per-basket scoring and the top-3 window
    shuffle on basket keys.  The two scalar tallies ride the plan as
    1-row aggregates combined by a broadcast cross join — no
    driver-side counts; a zero-basket input yields a NULL rate, not an
    ANSI 0/0 error.  Output is 1 row."""
    op = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps").between(2, 4))
    )
    wpairs = (
        op.select(F.explode(F.expr(_COORDER_PAIR_EXPR)).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    split = op.select(
        "l_orderkey",
        F.element_at("ps", F.size("ps")).alias("holdout"),
        F.slice("ps", 1, F.size("ps") - 1).alias("ctx"),
    )
    ctxe = split.select(
        "l_orderkey", "holdout", "ctx", F.explode("ctx").alias("cpart")
    )
    w = wpairs.alias("w")
    e = ctxe.alias("e")
    # u < v strictly in the pair table, so no (u, v) row can match a
    # context part on BOTH sides — the union of two hash equi-joins is
    # exactly the OR join's row set.  Two probes of the context beat
    # the mirrored-pair-table single-join alternative here, MEASURED
    # (best-of-3 at sf0.1: 4.26 s vs 7.03 s): the un-mirrored pair
    # aggregate stays under the broadcast threshold so both probes are
    # broadcast hash joins with no context shuffle, while mirroring
    # doubles the build side past it; and when the pair table outgrows
    # broadcast at 100 TB, exchange reuse still shuffles the context
    # ONCE for the two identical join subtrees.
    matched_u = e.join(w, F.col("w.u") == F.col("e.cpart")).select(
        "e.l_orderkey", "e.holdout", "e.ctx", F.col("w.v").alias("candidate"), "w.c"
    )
    matched_v = e.join(w, F.col("w.v") == F.col("e.cpart")).select(
        "e.l_orderkey", "e.holdout", "e.ctx", F.col("w.u").alias("candidate"), "w.c"
    )
    cand = (
        matched_u.unionByName(matched_v)
        .where(~F.array_contains(F.col("ctx"), F.col("candidate")))
        .select("l_orderkey", "holdout", "candidate", "c")
    )
    scoredc = cand.groupBy("l_orderkey", "holdout", "candidate").agg(
        F.sum("c").alias("score")
    )
    wtop = Window.partitionBy("l_orderkey").orderBy(F.desc("score"), F.asc("candidate"))
    topk = (
        scoredc.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
    )
    nb = split.agg(F.count(F.lit(1)).alias("nb"))
    nh = (
        topk.where(F.col("candidate") == F.col("holdout"))
        .select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("nh"))
    )
    return nb.crossJoin(F.broadcast(nh)).select(
        F.col("nb").cast("bigint").alias("n_baskets"),
        F.col("nh").cast("bigint").alias("n_hits"),
        # zero baskets -> NULL rate, not an ANSI 0/0.0 error (the same
        # degenerate-input discipline as retention_halflife_fit)
        F.round(
            F.when(F.col("nb") != 0, F.col("nh") / F.col("nb").cast("double")), 6
        ).alias("hit_rate_at_3"),
    )


def _concurrency_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    return _REGISTRY["sessions_max_concurrency"].oracle


@register(
    "events_littles_law_report",
    oracle=f"""
        WITH {sessions_sql()}, bounds AS (
            SELECT user_id, session_id,
                   MIN(ts) AS s_start, MAX(ts) AS s_end
            FROM sess GROUP BY user_id, session_id
        ), obs AS (
            SELECT COUNT(*) AS n_sessions,
                   CAST(SUM(CAST(round(epoch(s_end) - epoch(s_start), 3)
                                 AS DECIMAL(28,3))) AS DOUBLE) AS total_dur,
                   epoch(MAX(s_end)) - epoch(MIN(s_start)) AS t_window
            FROM bounds
        ), peak AS (
            SELECT MAX(max_concurrency) AS peak FROM ({_concurrency_oracle()})
        )
        SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
               round(n_sessions / (t_window / 3600.0), 6) AS lambda_per_hour,
               round(total_dur / n_sessions, 6) AS avg_duration_sec,
               round(total_dur / t_window, 6) AS avg_concurrency,
               CAST(peak AS BIGINT) AS peak_concurrency,
               round(peak / (total_dur / t_window), 6) AS peak_to_avg
        FROM obs CROSS JOIN peak
    """,
    tags=("capacity", "littles_law", "sessionization"),
)
def events_littles_law_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW capacity report: arrival rate λ (sessions/hour), mean
    session duration W, time-averaged concurrency L = λW (the law — here
    computed as total session-seconds over the observation window), and
    PEAK concurrency from the sweep-line operator — whose ratio to L is
    the burstiness factor capacity planning multiplies into "average
    load × headroom".  Composes sessionization and
    sessions_max_concurrency into the one-row summary an SRE actually
    reads (the eval-harness pattern applied to systems analytics).

    Scale: one user-keyed sessionization shuffle, whose checkpointed
    session bounds feed both the scalar report aggregates and the peak's
    day-partitioned sweep (never a global single-partition sort)."""
    bounds = _session_bounds(spark, sf_dir)
    dur = F.round(epoch("s_end") - epoch("s_start"), 3)
    obs = bounds.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(dur.cast("decimal(28,3)")).cast("double").alias("total_dur"),
        (epoch(F.max("s_end")) - epoch(F.min("s_start"))).alias("t_window"),
    )
    peak = _max_concurrency(bounds).agg(F.max("max_concurrency").alias("peak"))
    return obs.crossJoin(F.broadcast(peak)).select(
        F.col("n_sessions").cast("bigint").alias("n_sessions"),
        F.round(F.col("n_sessions") / (F.col("t_window") / 3600.0), 6).alias(
            "lambda_per_hour"
        ),
        F.round(F.col("total_dur") / F.col("n_sessions"), 6).alias(
            "avg_duration_sec"
        ),
        F.round(F.col("total_dur") / F.col("t_window"), 6).alias("avg_concurrency"),
        F.col("peak").cast("bigint").alias("peak_concurrency"),
        F.round(
            F.col("peak") / (F.col("total_dur") / F.col("t_window")), 6
        ).alias("peak_to_avg"),
    )


@register(
    "orders_fiscal_445_revenue",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_totalprice,
                   date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', o_orderdate) AS DATE)) // 7
                       AS wk
            FROM orders
        ),
        f AS (
            SELECT o_orderkey, o_totalprice,
                   1970 + wk // 52 AS fiscal_year,
                   (wk % 52) // 13 AS q,
                   (wk % 52) % 13 AS wiq
            FROM o
        )
        SELECT CAST(fiscal_year AS BIGINT) AS fiscal_year,
               CAST(q * 3 + CASE WHEN wiq < 4 THEN 1
                                 WHEN wiq < 8 THEN 2 ELSE 3 END AS BIGINT)
                   AS fiscal_period,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM f
        GROUP BY 1, 2
    """,
    tags=("calendar", "fiscal_445", "revenue"),
)
def orders_fiscal_445_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by 4-4-5 FISCAL periods (the retail calendar: each
    13-week quarter splits into 4+4+5-week periods, so periods align on
    whole weeks and comparisons are same-weekday-mix clean): the
    Gregorian date collapses to a Monday-epoch week number and pure
    integer arithmetic yields fiscal year, quarter, and period — no
    calendar dimension table, and the same epoch-day idiom as
    scalar_business_days_gap keeps both engines convention-free.
    53rd-week years fold into period 12 here (the NRF leap-week rule is
    one extra CASE on wk % 52 = 52, omitted for clarity).

    Scale: map-only derivation, one grouped aggregate on the (year,
    period) key — period cardinality is years × 12."""
    o = load(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.floor(
            F.datediff(
                F.date_trunc("day", "o_orderdate").cast("date"),
                F.lit("1970-01-05").cast("date"),
            )
            / 7
        ).alias("wk"),
    )
    f = o.select(
        "o_totalprice",
        (F.lit(1970) + F.floor(F.col("wk") / 52)).alias("fiscal_year"),
        F.floor((F.col("wk") % 52) / 13).alias("q"),
        ((F.col("wk") % 52) % 13).alias("wiq"),
    )
    period = F.col("q") * 3 + F.when(F.col("wiq") < 4, 1).when(
        F.col("wiq") < 8, 2
    ).otherwise(3)
    return (
        f.groupBy(
            F.col("fiscal_year").cast("bigint").alias("fiscal_year"),
            period.cast("bigint").alias("fiscal_period"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "supplier_scorecard_composite",
    oracle="""
        WITH m AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS rev,
                   round(CAST(SUM(CAST(round(l_discount, 4) AS DECIMAL(18,4)))
                              AS DOUBLE) / COUNT(*), 6) AS avg_disc,
                   COUNT(*) AS vol
            FROM lineitem GROUP BY l_suppkey
        ),
        g AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE) AS sr,
                   CAST(SUM(CAST(round(rev * rev, 4) AS DECIMAL(38,4))) AS DOUBLE)
                       AS srr,
                   CAST(SUM(CAST(round(avg_disc, 6) AS DECIMAL(28,6))) AS DOUBLE)
                       AS sd,
                   CAST(SUM(CAST(round(avg_disc * avg_disc, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) AS sdd,
                   CAST(SUM(vol) AS DOUBLE) AS sv,
                   CAST(SUM(CAST(vol AS DECIMAL(38,0)) * vol) AS DOUBLE) AS svv
            FROM m
        )
        SELECT l_suppkey,
               round(0.5 * ((rev - sr / n) / sqrt(greatest(srr / n - (sr/n)*(sr/n), 1e-12)))
                     - 0.3 * ((avg_disc - sd / n) / sqrt(greatest(sdd / n - (sd/n)*(sd/n), 1e-12)))
                     + 0.2 * ((vol - sv / n) / sqrt(greatest(svv / n - (sv/n)*(sv/n), 1e-12))),
                     6) AS composite
        FROM m CROSS JOIN g
        ORDER BY composite DESC, l_suppkey
        LIMIT 10
    """,
    tags=("bi", "scorecard", "zscore"),
)
def supplier_scorecard_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier SCORECARD: three per-supplier KPIs (net revenue ↑, mean
    discount given ↓, shipment volume ↑) z-score-normalized across the
    supplier population and blended 0.5/−0.3/0.2 into one composite —
    the weighted-z pattern behind every vendor/store/rep ranking
    dashboard (z-scores make incommensurable units addable; the weights
    are the business's stated priorities).  Top-10 suppliers.

    Scale: one supplier-keyed rollup (supplier cardinality ≪ fact), a
    1-row population-moment aggregate broadcast back, map-side z math,
    10-row TakeOrderedAndProject.  Population variances use the same
    guarded sum-of-squares form as stats_welch_ttest; every sum is
    DECIMAL."""
    m = load(spark, sf_dir, "lineitem").groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("double")
        .alias("rev"),
        F.round(
            F.sum(F.round("l_discount", 4).cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_disc"),
        F.count(F.lit(1)).alias("vol"),
    )
    g = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("rev", 2).cast("decimal(28,2)")).cast("double").alias("sr"),
        F.sum(F.round(F.col("rev") * F.col("rev"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("srr"),
        F.sum(F.round("avg_disc", 6).cast("decimal(28,6)")).cast("double").alias("sd"),
        F.sum(F.round(F.col("avg_disc") * F.col("avg_disc"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sdd"),
        F.sum("vol").cast("double").alias("sv"),
        F.sum(F.col("vol").cast("decimal(38,0)") * F.col("vol"))
        .cast("double")
        .alias("svv"),
    )
    def z(x, sx, sxx):
        mean = F.col(sx) / F.col("n")
        var = F.greatest(F.col(sxx) / F.col("n") - mean * mean, F.lit(1e-12))
        return (F.col(x) - mean) / F.sqrt(var)
    comp = F.round(
        0.5 * z("rev", "sr", "srr")
        - 0.3 * z("avg_disc", "sd", "sdd")
        + 0.2 * z("vol", "sv", "svv"),
        6,
    )
    return (
        m.crossJoin(F.broadcast(g))
        .select("l_suppkey", comp.alias("composite"))
        .orderBy(F.desc("composite"), F.asc("l_suppkey"))
        .limit(10)
    )


@register(
    "topn_with_others_rollup",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        ranked AS (
            SELECT p_brand, revenue,
                   ROW_NUMBER() OVER (ORDER BY revenue DESC, p_brand) AS rn
            FROM rev
        )
        SELECT CASE WHEN rn <= 5 THEN p_brand ELSE 'Other' END AS brand_group,
               CAST(COUNT(*) AS BIGINT) AS n_brands,
               CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM ranked
        GROUP BY CASE WHEN rn <= 5 THEN p_brand ELSE 'Other' END
    """,
    tags=("bi", "topn", "others_rollup"),
)
def topn_with_others_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 brands by revenue WITH AN 'Other' BUCKET: the ubiquitous
    dashboard shape a bare LIMIT gets wrong (dropping the tail silently
    misstates the total) — rank, relabel everything past the cut, and
    re-aggregate so the chart still sums to 100% of revenue.

    Scale: the ranking window runs over the BRAND rollup (brand
    cardinality, not fact rows); the relabel + regroup is a second
    tiny-key shuffle.  The fact-side join is the broadcast-dimension
    shape q3/q5 pin."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )
    ranked = rev.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("revenue"), F.asc("p_brand")))
    )
    return (
        ranked.groupBy(
            F.when(F.col("rn") <= 5, F.col("p_brand"))
            .otherwise("Other")
            .alias("brand_group")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double").alias(
                "revenue"
            ),
        )
    )


@register(
    "process_conformance_sessions",
    oracle=f"""
        WITH {sessions_sql("event_type")}, firsts AS (
            SELECT user_id, session_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
            FROM sess GROUP BY user_id, session_id
        )
        SELECT CASE
                 WHEN t_buy IS NOT NULL AND (t_view IS NULL OR t_click IS NULL
                      OR NOT (t_view <= t_click AND t_click <= t_buy))
                   THEN 'violating_purchase'
                 WHEN t_buy IS NOT NULL THEN 'conformant_purchase'
                 WHEN t_click IS NOT NULL AND (t_view IS NULL OR t_view > t_click)
                   THEN 'violating_click'
                 WHEN t_click IS NOT NULL THEN 'conformant_click'
                 ELSE 'browse_only'
               END AS trace_class,
               COUNT(*) AS n_sessions
        FROM firsts
        GROUP BY 1
    """,
    tags=("process_mining", "conformance", "sessionization"),
)
def process_conformance_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS-MINING conformance check: every session's trace is
    classified against the reference process view → click → purchase
    using first-occurrence timestamps — purchases whose prefix is
    missing or out of order are 'violating' traces (tracking bugs, bots,
    or deep-linked buys), the conformance-checking core of process
    mining without materializing full trace strings.

    Scale: sessionization's user-keyed windows, then ONE conditional-MIN
    aggregate per session and a 5-way classification — no joins, no
    per-trace explode; the class histogram is the output."""
    sess = _sessionize(load(spark, sf_dir, "events"), "event_type")
    firsts = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
        )
    )
    cls = (
        F.when(
            F.col("t_buy").isNotNull()
            & (
                F.col("t_view").isNull()
                | F.col("t_click").isNull()
                | ~(
                    (F.col("t_view") <= F.col("t_click"))
                    & (F.col("t_click") <= F.col("t_buy"))
                )
            ),
            "violating_purchase",
        )
        .when(F.col("t_buy").isNotNull(), "conformant_purchase")
        .when(
            F.col("t_click").isNotNull()
            & (F.col("t_view").isNull() | (F.col("t_view") > F.col("t_click"))),
            "violating_click",
        )
        .when(F.col("t_click").isNotNull(), "conformant_click")
        .otherwise("browse_only")
    )
    return firsts.groupBy(cls.alias("trace_class")).agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@register(
    "supply_single_source_risk",
    oracle="""
        WITH srcs AS (
            SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS revenue_exposed
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
               COUNT(*) AS n_parts,
               -- per-part revenue sits on a 4-dp grid (price x (1-disc));
               -- re-accumulate at 4 dp so no half-boundary re-rounding
               CAST(SUM(CAST(revenue_exposed AS DECIMAL(28,4))) AS DOUBLE)
                   AS revenue_exposed
        FROM srcs
        GROUP BY n_suppliers
    """,
    tags=("supply_chain", "risk", "sourcing"),
)
def supply_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCING-REDUNDANCY risk profile: parts histogrammed by how many
    distinct suppliers ship them, with the revenue riding on each tier —
    the n_suppliers = 1 row is the single-source exposure a supply-chain
    review opens with (one supplier failure strands that revenue), and
    the complement of q16's supplier-count listing: aggregated to the
    risk tiers with money attached.

    Scale: one part-keyed distinct-count + revenue rollup (shared
    shuffle), then a tiers-sized regroup; revenue uses the decimal-
    factor idiom so tier totals are exact."""
    srcs = load(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("double")
        .alias("revenue_exposed"),
    )
    return srcs.groupBy(
        F.col("n_suppliers").cast("bigint").alias("n_suppliers")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("revenue_exposed").cast("decimal(28,4)"))
        .cast("double")
        .alias("revenue_exposed"),
    )


@register(
    "revenue_bridge_price_volume",
    oracle="""
        WITH per AS (
            SELECT p.p_brand,
                   CAST(year(l.l_shipdate) AS BIGINT) AS yr,
                   CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                        AS DOUBLE) AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE year(l.l_shipdate) IN (1996, 1997)
            GROUP BY p.p_brand, year(l.l_shipdate)
        ),
        w AS (
            SELECT p_brand,
                   MAX(CASE WHEN yr = 1996 THEN q END) AS q0,
                   MAX(CASE WHEN yr = 1996 THEN r END) AS r0,
                   MAX(CASE WHEN yr = 1997 THEN q END) AS q1,
                   MAX(CASE WHEN yr = 1997 THEN r END) AS r1
            FROM per GROUP BY p_brand
        )
        SELECT p_brand,
               round(r1 - r0, 2) AS delta_revenue,
               round((r1 / q1 - r0 / q0) * q0, 2) AS price_effect,
               round((r0 / q0) * (q1 - q0), 2) AS volume_effect,
               round((r1 / q1 - r0 / q0) * (q1 - q0), 2) AS mix_effect
        FROM w
        WHERE q0 IS NOT NULL AND q1 IS NOT NULL
    """,
    tags=("bi", "fpa", "bridge", "decomposition"),
)
def revenue_bridge_price_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE BRIDGE: each brand's 1996→1997 revenue change decomposed
    into price, volume, and joint effects (ΔR = Δp·q₀ + p₀·Δq + Δp·Δq,
    p = realized unit price) — the FP&A waterfall that answers "did we
    sell MORE or sell DEARER", which the raw delta alone can't.  The
    three effects reconcile to delta_revenue exactly by construction —
    a self-checking identity in the output.

    Scale: one (brand, year) rollup with decimal sums (brand-cardinality
    output), a brand-keyed pivot via conditional MAX, map-side effect
    arithmetic.  Brands present in only one year are excluded (no
    denominator) — the new/discontinued-line rows a real bridge lists
    separately."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.where(F.year("l_shipdate").isin(1996, 1997))
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", F.year("l_shipdate").cast("bigint").alias("yr"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("r"),
        )
    )
    w = per.groupBy("p_brand").agg(
        F.max(F.when(F.col("yr") == 1996, F.col("q"))).alias("q0"),
        F.max(F.when(F.col("yr") == 1996, F.col("r"))).alias("r0"),
        F.max(F.when(F.col("yr") == 1997, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("yr") == 1997, F.col("r"))).alias("r1"),
    )
    p0 = F.col("r0") / F.col("q0")
    p1 = F.col("r1") / F.col("q1")
    return w.where(F.col("q0").isNotNull() & F.col("q1").isNotNull()).select(
        "p_brand",
        F.round(F.col("r1") - F.col("r0"), 2).alias("delta_revenue"),
        F.round((p1 - p0) * F.col("q0"), 2).alias("price_effect"),
        F.round(p0 * (F.col("q1") - F.col("q0")), 2).alias("volume_effect"),
        F.round((p1 - p0) * (F.col("q1") - F.col("q0")), 2).alias("mix_effect"),
    )


@register(
    "graph_edge_triangle_support",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL},
        wedges AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM oriented e1 JOIN oriented e2
              ON e1.v = e2.u
        ),
        tri AS (
            SELECT w.a, w.b, w.c
            FROM wedges w JOIN oriented e3 ON w.a = e3.u AND w.c = e3.v
        ),
        support AS (
            SELECT u, v, COUNT(*) AS sup FROM (
                SELECT a AS u, b AS v FROM tri
                UNION ALL SELECT b, c FROM tri
                UNION ALL SELECT a, c FROM tri
            ) GROUP BY u, v
        )
        SELECT u, v, CAST(sup AS BIGINT) AS triangle_support
        FROM support
        ORDER BY sup DESC, u, v
        LIMIT 20
    """,
    tags=("graph", "truss", "triangle_support"),
)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE triangle SUPPORT: how many triangles each co-order edge
    participates in — the k-truss building block (a k-truss keeps edges
    with support ≥ k−2; iterating the peel from this table converges in
    O(edges) rounds) and, read directly, the tie-strength ranking:
    high-support edges are embedded in dense neighborhoods, low-support
    edges are bridges (Granovetter).  Top-20 strongest ties.

    Scale: the oriented wedge join + close check is exactly the
    triangle-count plan (hub-degree capping applies); support
    attribution is a 3-way union of the triangle table re-grouped by
    edge — triangle-set-sized, not quadratic."""
    oriented = _coorder_oriented_edges(spark, sf_dir)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
    )
    tri = wedges.join(
        e3, (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v"))
    ).select("a", "b", "c")
    support = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    return (
        support.select("u", "v", F.col("sup").cast("bigint").alias("triangle_support"))
        .orderBy(F.desc("triangle_support"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@register(
    "allocation_largest_remainder",
    oracle="""
        WITH rev AS (
            SELECT n.n_name,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        ),
        tot AS (SELECT CAST(SUM(CAST(r AS DECIMAL(28,2))) AS DOUBLE) AS t FROM rev),
        quota AS (
            SELECT n_name, r,
                   1000 * r / t AS q,
                   CAST(floor(1000 * r / t) AS BIGINT) AS base,
                   1000 * r / t - floor(1000 * r / t) AS rem
            FROM rev CROSS JOIN tot
        ),
        leftover AS (
            SELECT 1000 - SUM(base) AS k FROM quota
        ),
        ranked AS (
            SELECT n_name, base, rem,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rnk
            FROM quota
        )
        SELECT n_name,
               CAST(base AS BIGINT) AS base_units,
               CAST(CASE WHEN rnk <= k THEN 1 ELSE 0 END AS INT) AS extra_unit,
               CAST(base + CASE WHEN rnk <= k THEN 1 ELSE 0 END AS BIGINT)
                   AS allocation
        FROM ranked CROSS JOIN leftover
    """,
    tags=("allocation", "apportionment", "largest_remainder"),
)
def allocation_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER apportionment (Hamilton's method): split a fixed
    budget of 1000 units across nations proportionally to revenue —
    floors first, then the leftover units go to the largest fractional
    remainders — the integer-allocation op behind quota assignment,
    seat apportionment, and promo-inventory splits, where naive
    rounding either over- or under-spends the budget.  Allocations sum
    to EXACTLY 1000 by construction (the identity a reviewer checks).

    Scale: revenue reduces to nation cardinality before any window; the
    remainder rank runs over that tiny table; ties on equal remainders
    break lexicographically so the allocation is replayable."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    tot = rev.agg(
        F.sum(F.col("r").cast("decimal(28,2)")).cast("double").alias("t")
    )
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        (F.lit(1000) * F.col("r") / F.col("t")).alias("q"),
    ).select(
        "n_name",
        F.floor("q").cast("bigint").alias("base"),
        (F.col("q") - F.floor("q")).alias("rem"),
    )
    leftover = quota.agg((F.lit(1000) - F.sum("base")).alias("k"))
    ranked = quota.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("n_name")))
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "n_name",
        F.col("base").cast("bigint").alias("base_units"),
        (F.col("rnk") <= F.col("k")).cast("int").alias("extra_unit"),
        (F.col("base") + (F.col("rnk") <= F.col("k")).cast("int"))
        .cast("bigint")
        .alias("allocation"),
    )


@register(
    "rank_wilson_lower_bound",
    oracle="""
        WITH s AS (
            SELECT l_partkey,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (l_returnflag <> 'R') AS ok
            FROM lineitem GROUP BY l_partkey
            HAVING COUNT(*) >= 5
        ),
        w AS (
            SELECT l_partkey, n, ok,
                   round((ok / CAST(n AS DOUBLE) + 1.9208 / n
                          - 1.96 * sqrt((ok / CAST(n AS DOUBLE))
                                        * (1 - ok / CAST(n AS DOUBLE)) / n
                                        + 0.9604 / (n * CAST(n AS DOUBLE))))
                         / (1 + 3.8416 / n), 6) AS wilson_lb
            FROM s
        )
        SELECT l_partkey, CAST(n AS BIGINT) AS n, CAST(ok AS BIGINT) AS n_ok,
               wilson_lb
        FROM w
        ORDER BY wilson_lb DESC, l_partkey
        LIMIT 20
    """,
    tags=("ranking", "wilson", "uncertainty"),
)
def rank_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING BY WILSON LOWER BOUND: parts ordered by the 95% lower
    confidence bound of their non-return rate (min 5 shipments) — the
    "sort by best rating" algorithm that beats raw proportions (a 3/3
    part shouldn't outrank a 96/100 one; the lower bound encodes sample
    size into the order).  Top-20 most reliably return-free parts.

    Scale: one part-keyed conditional count, map-side Wilson arithmetic
    (z = 1.96 constants folded), 20-row TakeOrderedAndProject — ranking
    under uncertainty at aggregation cost."""
    s = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_returnflag") != "R", 1)).alias("ok"),
        )
        .where(F.col("n") >= 5)
    )
    p = F.col("ok") / F.col("n").cast("double")
    nn = F.col("n")
    lb = (
        p
        + 1.9208 / nn
        - 1.96
        * F.sqrt(p * (1 - p) / nn + 0.9604 / (nn * nn.cast("double")))
    ) / (1 + 3.8416 / nn)
    return (
        s.select(
            "l_partkey",
            F.col("n").cast("bigint").alias("n"),
            F.col("ok").cast("bigint").alias("n_ok"),
            F.round(lb, 6).alias("wilson_lb"),
        )
        .orderBy(F.desc("wilson_lb"), F.asc("l_partkey"))
        .limit(20)
    )


@register(
    "events_runlength_encode",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rnt
            FROM events
        )
        SELECT user_id, event_type, run_len, run_start FROM (
            SELECT user_id, event_type,
                   COUNT(*) AS run_len,
                   MIN(ts) AS run_start
            FROM seq
            GROUP BY user_id, event_type, rn - rnt
        )
        ORDER BY run_len DESC, user_id, run_start
        LIMIT 20
    """,
    tags=("sequence", "rle", "window"),
)
def events_runlength_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN-LENGTH ENCODING of per-user event streams: consecutive
    same-type events collapse into runs via the two-row_number trick
    (rn − rn_within_type is constant exactly along a run) — the
    sequence-compression view that surfaces rage-clicks (long 'click'
    runs), error storms, and scripted scrapers (top-20 longest runs),
    and halves storage for downstream sequence models.

    Scale: both row_numbers ride the SAME user-keyed sort (one window
    shuffle — the second partitions by a superset key, so Spark reuses
    the exchange); the run group-by is another pass on the same keys."""
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w1) - F.row_number().over(w2)).alias("grp"),
    )
    return (
        # run_start is NTZ so the collected wall clock is process-TZ
        # independent (r7 TZ audit hardening); the top-20 ordering is a
        # monotone cast away from the TimestampType order, so the
        # TakeOrderedAndProject plan and the oracle hash are unchanged.
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("ts").cast("timestamp_ntz").alias("run_start"),
        )
        .select("user_id", "event_type", "run_len", "run_start")
        .orderBy(F.desc("run_len"), F.asc("user_id"), F.asc("run_start"))
        .limit(20)
    )


@register(
    "orders_open_aging_buckets",
    oracle="""
        WITH mx AS (
            SELECT MAX(CAST(date_trunc('day', o_orderdate) AS DATE)) AS asof_day
            FROM orders
        ),
        open_orders AS (
            SELECT o_orderkey, o_totalprice,
                   date_diff('day', CAST(date_trunc('day', o_orderdate) AS DATE),
                             asof_day) AS age_days
            FROM orders CROSS JOIN mx
            WHERE o_orderstatus = 'O'
        )
        SELECT CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 90 THEN '31-90'
                    WHEN age_days <= 365 THEN '91-365'
                    ELSE '365+' END AS age_bucket,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS open_value
        FROM open_orders
        GROUP BY 1
    """,
    tags=("aging", "wip", "ar_report"),
)
def orders_open_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPEN-ORDER AGING: still-open orders bucketed by age as of the
    dataset's latest day, with the order value tied up in each bucket —
    the accounts-receivable / WIP aging report whose 365+ row is where
    working-capital reviews start (old open orders are either stuck or
    stale data — data_quality_report's temporal rules are the
    companion check).

    Scale: the as-of date is a 1-row broadcast; aging is map-side date
    arithmetic on the status-filtered scan (predicate pushdown on
    o_orderstatus); output is 4 buckets."""
    mx = load(spark, sf_dir, "orders").agg(
        F.max(F.date_trunc("day", "o_orderdate").cast("date")).alias("asof_day")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            "o_totalprice",
            F.datediff(
                "asof_day", F.date_trunc("day", "o_orderdate").cast("date")
            ).alias("age_days"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return o.groupBy(bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("open_value"),
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL},
        und AS (
            SELECT u AS a, v AS b FROM oriented
            UNION ALL SELECT v, u FROM oriented
        ),
        deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
        ed AS (
            SELECT da.d AS x, db.d AS y
            FROM und e
            JOIN deg da ON da.node = e.a
            JOIN deg db ON db.node = e.b
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DOUBLE) AS syy
            FROM ed
        )
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
               round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                   AS assortativity
        FROM s
    """,
    tags=("graph", "assortativity", "structure"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman): Pearson correlation of endpoint
    degrees over every directed edge instance — positive means hubs link
    to hubs (social-network-like), negative means hubs link to leaves
    (hub-and-spoke, typical for product co-purchase graphs) — the one
    number that says which skew mitigations (hub capping, salting) the
    OTHER graph queries will actually need on this topology.

    Scale: degrees are one edge-keyed count; the edge-endpoint join is
    two broadcast degree lookups; the correlation is the exact-DECIMAL
    moment aggregate (integer degrees — no rounding anywhere)."""
    oriented = _coorder_oriented_edges(spark, sf_dir)
    und = oriented.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        oriented.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    ed = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("x")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("y")),
            "b",
        )
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,0)")).cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).cast("double").alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )


@register(
    "customer_wallet_share_deciles",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT c.c_custkey, c.c_acctbal, COALESCE(s.sp, 0.0) AS sp,
                   NTILE(10) OVER (ORDER BY c.c_acctbal, c.c_custkey) AS decile
            FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        ),
        tot AS (SELECT CAST(SUM(CAST(sp AS DECIMAL(28,2))) AS DOUBLE) AS t
                FROM ranked)
        SELECT CAST(decile AS BIGINT) AS acctbal_decile,
               COUNT(*) AS n_customers,
               round(CAST(SUM(CAST(sp AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*), 2)
                   AS avg_spend,
               round(CAST(SUM(CAST(sp AS DECIMAL(28,2))) AS DOUBLE) / t, 6)
                   AS spend_share
        FROM ranked CROSS JOIN tot
        GROUP BY decile, t
    """,
    tags=("bi", "deciles", "wallet_share", "ntile"),
)
def customer_wallet_share_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALLET-SHARE by account-balance decile: customers NTILE'd on
    c_acctbal, each decile's average and share of total order spend —
    the "does balance predict wallet" read that decides whether acctbal
    is worth a slot in the LTV model, and the NTILE exemplar in the
    window surface (deterministic: ties broken by custkey so both
    engines cut identical deciles).  Customers with no orders stay in
    at zero spend — dropping them would bias every decile upward.

    Scale: spend reduces per customer before the join; the NTILE window
    sorts the CUSTOMER table (dimension-sized); the rollup is 10 rows."""
    spend = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sp")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = (
        c.join(spend, c["c_custkey"] == spend["o_custkey"], "left")
        .select(
            "c_custkey",
            "c_acctbal",
            F.coalesce("sp", F.lit(0.0)).alias("sp"),
        )
        .withColumn(
            "decile",
            F.ntile(10).over(Window.orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))),
        )
    )
    tot = ranked.agg(
        F.sum(F.col("sp").cast("decimal(28,2)")).cast("double").alias("t")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.col("decile").cast("bigint").alias("acctbal_decile"), "t")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("sp").cast("decimal(28,2)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_spend"),
            F.round(
                F.sum(F.col("sp").cast("decimal(28,2)")).cast("double") / F.col("t"), 6
            ).alias("spend_share"),
        )
        .drop("t")
    )


@register(
    "credit_risk_exposure",
    oracle="""
        WITH open_val AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ov
            FROM orders WHERE o_orderstatus = 'O'
            GROUP BY o_custkey
        )
        SELECT c.c_mktsegment,
               COUNT(*) AS n_neg_customers,
               round(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS neg_balance_total,
               round(CAST(SUM(CAST(COALESCE(ov.ov, 0.0) AS DECIMAL(28,2)))
                          AS DOUBLE), 2) AS open_exposure
        FROM customer c LEFT JOIN open_val ov ON ov.o_custkey = c.c_custkey
        WHERE c.c_acctbal < 0
        GROUP BY c.c_mktsegment
    """,
    tags=("credit", "risk", "exposure"),
)
def credit_risk_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREDIT-RISK exposure: customers already in negative balance,
    rolled up by market segment with their total deficit AND the value
    of orders still open against them — the two numbers a credit desk
    multiplies into expected loss (deficit = realized, open orders =
    at-risk pipeline).  Customers with no open orders count at zero
    exposure, not dropped — the deficit is real either way.

    Scale: open-order value reduces per customer under the pushed-down
    status filter; the negative-balance filter prunes the customer scan;
    the rollup is segment-sized."""
    ov = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("ov")
        )
    )
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") < 0)
    return (
        c.join(ov, c["c_custkey"] == ov["o_custkey"], "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_neg_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("neg_balance_total"),
            F.round(
                F.sum(F.coalesce("ov", F.lit(0.0)).cast("decimal(28,2)")).cast(
                    "double"
                ),
                2,
            ).alias("open_exposure"),
        )
    )


@register(
    "audit_sequence_gaps",
    oracle="""
        WITH seqs AS (
            SELECT 'orders.o_orderkey' AS sequence, o_orderkey AS k FROM orders
            UNION ALL SELECT 'events.event_id', event_id FROM events
            UNION ALL SELECT 'part.p_partkey', p_partkey FROM part
            UNION ALL SELECT 'customer.c_custkey', c_custkey FROM customer
        )
        SELECT sequence,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
               CAST(MIN(k) AS BIGINT) AS min_key,
               CAST(MAX(k) AS BIGINT) AS max_key,
               CAST(MAX(k) - MIN(k) + 1 - COUNT(DISTINCT k) AS BIGINT)
                   AS n_missing,
               CAST(MAX(k) - MIN(k) + 1 = COUNT(DISTINCT k) AS INT)
                   AS contiguous
        FROM seqs GROUP BY sequence
    """,
    tags=("audit", "sequence", "gaps"),
)
def audit_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-CONTIGUITY audit: for every surrogate-key sequence in the
    schema, span arithmetic (max − min + 1 vs distinct count) yields the
    exact number of missing keys and a pass flag — the receipt-continuity
    check bookkeeping law mandates in many jurisdictions (every missing
    number is a voided/lost/suppressed document to explain).  The
    fixtures' keys are dense, so all four rows assert contiguous = 1 —
    the audit PROVING cleanliness, the same posture as
    data_quality_referential.  Enumerating the gap RANGES when
    n_missing > 0 is one LEAD over the sorted key set.

    Scale: pure aggregation — no window, no sort; each sequence is one
    min/max/distinct-count pass with map-side partials (at 100 TB the
    distinct count is the only cost, and a sum-over-presence bitmap or
    HLL bound replaces it for a first-pass screen)."""
    seqs = None
    for label, table, key in (
        ("orders.o_orderkey", "orders", "o_orderkey"),
        ("events.event_id", "events", "event_id"),
        ("part.p_partkey", "part", "p_partkey"),
        ("customer.c_custkey", "customer", "c_custkey"),
    ):
        part = load(spark, sf_dir, table).select(
            F.lit(label).alias("sequence"), F.col(key).alias("k")
        )
        seqs = part if seqs is None else seqs.unionAll(part)
    span = F.max("k") - F.min("k") + 1
    return seqs.groupBy("sequence").agg(
        F.countDistinct("k").cast("bigint").alias("n_keys"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
        (span - F.countDistinct("k")).cast("bigint").alias("n_missing"),
        (span == F.countDistinct("k")).cast("int").alias("contiguous"),
    )


@register(
    "parts_bundle_detection",
    oracle="""
        WITH op AS (
            SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
            FROM lineitem GROUP BY l_orderkey
            HAVING len(list_distinct(list(l_partkey))) BETWEEN 2 AND 4
        ),
        pairs AS (
            SELECT u, v, COUNT(*) AS c FROM (
                SELECT p1.u, p2.v FROM (
                    SELECT unnest(ps) AS u, ps FROM op
                ) p1, LATERAL (SELECT unnest(p1.ps) AS v) p2
                WHERE p1.u < p2.v
            ) GROUP BY u, v
        ),
        freq AS (
            SELECT u AS part, COUNT(*) AS n FROM (
                SELECT unnest(ps) AS u FROM op
            ) GROUP BY u
        )
        SELECT p.u, p.v, CAST(p.c AS BIGINT) AS n_together,
               round(p.c / CAST(least(fu.n, fv.n) AS DOUBLE), 6) AS attach_rate
        FROM pairs p
        JOIN freq fu ON fu.part = p.u
        JOIN freq fv ON fv.part = p.v
        WHERE p.c >= 2
        ORDER BY attach_rate DESC, n_together DESC, p.u, p.v
        LIMIT 20
    """,
    tags=("recsys", "bundle", "attach_rate"),
)
def parts_bundle_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUNDLE screening: part pairs ranked by ATTACH RATE — co-order
    count over the rarer part's basket count (min support 2): the
    "these are really one product" signal that drives kitting, bundle
    pricing, and the containment-style asymmetric complement of
    assoc_rules_coorder's confidence (attach rate is confidence against
    the RARER side, so accessory→flagship pairs surface even when the
    flagship sells alone).  Top-20 strongest bundles.

    Scale: the weighted pair table and basket frequencies are the
    co-order family's shared aggregations; the rate filter is two
    broadcast frequency lookups over the pair set."""
    op = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps").between(2, 4))
    )
    pairs = (
        op.select(F.explode(F.expr(_COORDER_PAIR_EXPR)).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freq = (
        op.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = (
        pairs.join(
            F.broadcast(freq.select(F.col("part").alias("u"), F.col("n").alias("nu"))),
            "u",
        )
        .join(
            freq.select(F.col("part").alias("v"), F.col("n").alias("nv")),
            "v",
        )
    )
    rate = F.col("c") / F.least("nu", "nv").cast("double")
    return (
        j.where(F.col("c") >= 2)
        .select(
            "u",
            "v",
            F.col("c").cast("bigint").alias("n_together"),
            F.round(rate, 6).alias("attach_rate"),
        )
        .orderBy(F.desc("attach_rate"), F.desc("n_together"), F.asc("u"), F.asc("v"))
        .limit(20)
    )


@register(
    "supplier_leadtime_p90",
    oracle="""
        WITH lt AS (
            SELECT l.l_suppkey,
                   date_diff('day', CAST(date_trunc('day', o.o_orderdate) AS DATE),
                             CAST(date_trunc('day', l.l_shipdate) AS DATE)) AS days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= o.o_orderdate
        ),
        per AS (
            SELECT l_suppkey, COUNT(*) AS n,
                   round(quantile_cont(days, 0.5), 4) AS p50_days,
                   round(quantile_cont(days, 0.9), 4) AS p90_days
            FROM lt GROUP BY l_suppkey
        ),
        g AS (SELECT round(quantile_cont(days, 0.9), 4) AS gp90 FROM lt)
        SELECT l_suppkey, CAST(n AS BIGINT) AS n_shipments, p50_days, p90_days,
               CAST(p90_days > gp90 AS INT) AS slower_than_fleet
        FROM per CROSS JOIN g
    """,
    tags=("ops", "leadtime", "percentile", "sla"),
)
def supplier_leadtime_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier LEAD-TIME distribution (order → ship days): median
    and p90 per supplier plus a flag against the fleet-wide p90 — the
    SLA scorecard procurement reviews run (p90, not mean: lead-time
    pain lives in the tail, and one slow supplier's p90 is what strands
    a production line).  scalar_business_days_gap is the
    working-day-true refinement of the same measure.

    Scale: the order-ship join is the shared orderkey equi-join; exact
    per-supplier percentiles sort within supplier groups (sketch at
    100 TB); the fleet benchmark is a 1-row broadcast."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lt = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "l_suppkey",
            F.datediff(
                F.date_trunc("day", "l_shipdate").cast("date"),
                F.date_trunc("day", "o_orderdate").cast("date"),
            ).alias("days"),
        )
    )
    per = lt.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
        F.round(F.expr("percentile(days, 0.5)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(days, 0.9)"), 4).alias("p90_days"),
    )
    g = lt.agg(F.round(F.expr("percentile(days, 0.9)"), 4).alias("gp90"))
    return per.crossJoin(F.broadcast(g)).select(
        "l_suppkey",
        "n_shipments",
        "p50_days",
        "p90_days",
        (F.col("p90_days") > F.col("gp90")).cast("int").alias("slower_than_fleet"),
    )


@register(
    "customers_churned_1997",
    oracle="""
        WITH y96 AS (
            SELECT o_custkey,
                   COUNT(*) AS n_orders_1996,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS value_1996
            FROM orders WHERE year(o_orderdate) = 1996
            GROUP BY o_custkey
        ),
        y97 AS (
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        )
        SELECT a.o_custkey,
               CAST(a.n_orders_1996 AS BIGINT) AS n_orders_1996,
               a.value_1996
        FROM y96 a ANTI JOIN y97 b ON a.o_custkey = b.o_custkey
    """,
    tags=("churn", "anti_join", "retention"),
)
def customers_churned_1997(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN LIST: customers who ordered in 1996 but placed nothing in
    1997, with their 1996 order count and value — the win-back campaign
    input (the at-risk VALUE ranks the outreach).  Complements
    users_new_vs_returning's aggregate flows with the actionable
    per-customer roster; the anti-join-of-two-period-sets shape is the
    canonical churn idiom.

    Scale: both year slices reduce before the anti-join (year predicate
    pushed to the scan); the anti-join keys on customer — the smaller
    1997 key set builds the hash side."""
    o = load(spark, sf_dir, "orders")
    y96 = (
        o.where(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders_1996"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_1996"),
        )
    )
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    return y96.join(y97, "o_custkey", "left_anti")


@register(
    "conversion_by_session_depth",
    oracle=f"""
        WITH {sessions_sql("event_type")}, per AS (
            SELECT user_id, session_id, COUNT(*) AS depth,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM sess GROUP BY user_id, session_id
        )
        SELECT CASE WHEN depth = 1 THEN '1'
                    WHEN depth <= 3 THEN '2-3'
                    WHEN depth <= 7 THEN '4-7'
                    ELSE '8+' END AS depth_bucket,
               COUNT(*) AS n_sessions,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               round(SUM(converted) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS conversion_rate
        FROM per
        GROUP BY 1
    """,
    tags=("funnel", "sessionization", "conversion"),
)
def conversion_by_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION BY ENGAGEMENT DEPTH: sessions bucketed by event count,
    each bucket's purchase-conversion rate — the depth-response curve
    behind "get them to a third page" growth tactics (monotone-rising
    rates justify engagement investment; a hump says long sessions are
    STRUGGLING, not shopping — direction matters and this table shows
    it).  Sessions from the standard 30-min-gap definition.

    Scale: sessionization's user-keyed windows, a per-session count+flag
    aggregate, a 4-bucket rollup — nothing new shuffles."""
    sess = _sessionize(load(spark, sf_dir, "events"), "event_type")
    per = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("depth"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
    )
    bucket = (
        F.when(F.col("depth") == 1, "1")
        .when(F.col("depth") <= 3, "2-3")
        .when(F.col("depth") <= 7, "4-7")
        .otherwise("8+")
    )
    return per.groupBy(bucket.alias("depth_bucket")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(
            F.sum("converted") / F.count(F.lit(1)).cast("double"), 6
        ).alias("conversion_rate"),
    )


@register(
    "orders_otif_rate",
    oracle="""
        WITH per AS (
            SELECT o.o_orderkey,
                   CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
                   CAST(bool_and(date_diff('day',
                            CAST(date_trunc('day', o.o_orderdate) AS DATE),
                            CAST(date_trunc('day', l.l_shipdate) AS DATE)) <= 90)
                        AS INT) AS otif
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, date_trunc('month', o.o_orderdate)
        )
        SELECT month,
               COUNT(*) AS n_orders,
               CAST(SUM(otif) AS BIGINT) AS n_otif,
               round(SUM(otif) / CAST(COUNT(*) AS DOUBLE), 6) AS otif_rate
        FROM per GROUP BY month
    """,
    tags=("supply_chain", "otif", "kpi"),
)
def orders_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTIF (on-time-in-full) rate by order month: an order counts only
    if EVERY line shipped within the 90-day promise window (bool_and
    over lines — the "in-full" part; one late line fails the whole
    order, which per-line on-time rates hide), tracked monthly — the
    canonical supply-chain service KPI.

    Scale: the orderkey join is the shared q4/q12 shape; the per-order
    bool_and folds in the first aggregation (map-side partials); the
    monthly rollup is calendar-sized.  The INT cast keeps the
    boolean out of the result per the driver-hash rules."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.min(
                (
                    F.datediff(
                        F.date_trunc("day", "l_shipdate").cast("date"),
                        F.date_trunc("day", "o_orderdate").cast("date"),
                    )
                    <= 90
                ).cast("int")
            ).alias("otif")
        )
    )
    return per.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("otif").cast("bigint").alias("n_otif"),
        F.round(F.sum("otif") / F.count(F.lit(1)).cast("double"), 6).alias(
            "otif_rate"
        ),
    )


@register(
    "features_target_encoding_loo",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
            FROM orders GROUP BY o_custkey
        ),
        base AS (
            SELECT c.c_custkey, c.c_mktsegment, COALESCE(s.sp, 0.0) AS sp
            FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        ),
        seg AS (
            SELECT c_mktsegment,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(sp, 2) AS DECIMAL(28,2))) AS DOUBLE) AS tot
            FROM base GROUP BY c_mktsegment
        )
        SELECT b.c_custkey, b.c_mktsegment,
               round((g.tot - b.sp) / (g.n - 1), 4) AS loo_encoding
        FROM base b JOIN seg g ON g.c_mktsegment = b.c_mktsegment
        WHERE g.n > 1
    """,
    tags=("features", "target_encoding", "ml_prep"),
)
def features_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding: each customer's market segment
    encoded as the mean spend of the segment's OTHER members —
    (Σsegment − own)/(n − 1) — the categorical encoder that feeds tree
    and linear models without the target leakage plain mean-encoding
    commits (a customer's own spend never enters its own feature, so
    train-time fit statistics stay honest).  Singleton segments are
    dropped (no peers to encode from).

    Scale: segment totals are one tiny aggregate broadcast back; the
    encoding is map-side arithmetic per row — the whole encoder costs
    one dimension scan more than a groupBy."""
    spend = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sp")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = c.join(spend, c["c_custkey"] == spend["o_custkey"], "left").select(
        "c_custkey", "c_mktsegment", F.coalesce("sp", F.lit(0.0)).alias("sp")
    )
    seg = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("sp", 2).cast("decimal(28,2)")).cast("double").alias("tot"),
    )
    return (
        base.join(seg, "c_mktsegment")
        .where(F.col("n") > 1)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round((F.col("tot") - F.col("sp")) / (F.col("n") - 1), 4).alias(
                "loo_encoding"
            ),
        )
    )


@register(
    "parts_price_dispersion",
    oracle="""
        WITH pr AS (
            SELECT l_partkey,
                   COUNT(DISTINCT l_suppkey) AS n_suppliers,
                   MIN(l_extendedprice / l_quantity) AS min_unit,
                   MAX(l_extendedprice / l_quantity) AS max_unit
            FROM lineitem
            WHERE l_quantity > 0
            GROUP BY l_partkey
            HAVING COUNT(DISTINCT l_suppkey) >= 2
        )
        SELECT l_partkey, CAST(n_suppliers AS BIGINT) AS n_suppliers,
               round(min_unit, 4) AS min_unit_price,
               round(max_unit, 4) AS max_unit_price,
               round(max_unit / min_unit, 6) AS dispersion_ratio
        FROM pr
        ORDER BY dispersion_ratio DESC, l_partkey
        LIMIT 20
    """,
    tags=("pricing", "dispersion", "market"),
)
def parts_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE DISPERSION: for multi-supplier parts, the max/min realized
    unit-price ratio — the law-of-one-price violation screen (high
    dispersion = someone is overpaying or a supplier is dumping;
    procurement arbitrages it, economists measure market friction by
    it).  Top-20 most dispersed parts.

    Scale: unit prices are map-side; one part-keyed min/max/distinct
    aggregation; 20-row TakeOrderedAndProject.  MIN/MAX of identical
    double divisions are order-free, so no decimal staging is needed."""
    pr = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 0)
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit"),
            F.max(F.col("l_extendedprice") / F.col("l_quantity")).alias("max_unit"),
        )
        .where(F.col("n_suppliers") >= 2)
    )
    return (
        pr.select(
            "l_partkey",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round("min_unit", 4).alias("min_unit_price"),
            F.round("max_unit", 4).alias("max_unit_price"),
            F.round(F.col("max_unit") / F.col("min_unit"), 6).alias(
                "dispersion_ratio"
            ),
        )
        .orderBy(F.desc("dispersion_ratio"), F.asc("l_partkey"))
        .limit(20)
    )


@register(
    "attribution_shapley_two_channel",
    oracle=f"""
        WITH {sessions_sql("event_type")}, per AS (
            SELECT user_id, session_id,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
            FROM sess GROUP BY user_id, session_id
        ), v AS (
            SELECT
                COALESCE(SUM(conv) FILTER (has_v = 0 AND has_c = 0)
                         / CAST(NULLIF(COUNT(*) FILTER (has_v = 0 AND has_c = 0), 0)
                                AS DOUBLE), 0.0) AS v0,
                COALESCE(SUM(conv) FILTER (has_v = 1 AND has_c = 0)
                         / CAST(NULLIF(COUNT(*) FILTER (has_v = 1 AND has_c = 0), 0)
                                AS DOUBLE), 0.0) AS vv,
                COALESCE(SUM(conv) FILTER (has_v = 0 AND has_c = 1)
                         / CAST(NULLIF(COUNT(*) FILTER (has_v = 0 AND has_c = 1), 0)
                                AS DOUBLE), 0.0) AS vc,
                COALESCE(SUM(conv) FILTER (has_v = 1 AND has_c = 1)
                         / CAST(NULLIF(COUNT(*) FILTER (has_v = 1 AND has_c = 1), 0)
                                AS DOUBLE), 0.0) AS vvc
            FROM per
        )
        SELECT 'view' AS channel,
               round(0.5 * (vv - v0) + 0.5 * (vvc - vc), 6) AS shapley_value
        FROM v
        UNION ALL
        SELECT 'click',
               round(0.5 * (vc - v0) + 0.5 * (vvc - vv), 6)
        FROM v
    """,
    tags=("attribution", "shapley", "game_theory"),
)
def attribution_shapley_two_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY attribution over two channels: with sessions
    characterized by which touch types they contain, the coalition value
    v(S) is the conversion rate of sessions exposed to exactly S, and
    each channel's Shapley value averages its marginal contribution over
    both join orders — the fair-division attribution that first/last-
    touch bookends (attribution_first_vs_last) cannot be: it credits
    channels by what they ADD, not where they sit.  Two channels keep
    the 2^n coalition enumeration exact and readable; more channels
    follow the same conditional-aggregation pattern.

    Scale: sessionization + ONE 4-cell conditional aggregate; the
    Shapley arithmetic is scalar.  Sessions missing a coalition cell
    contribute v = 0 (NULLIF-guarded) — stated, not silent."""
    sess = _sessionize(load(spark, sf_dir, "events"), "event_type")
    per = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_v"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "has_c"
            ),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "conv"
            ),
        )
    )
    def rate(cond):
        n = F.count(F.when(cond, 1))
        s = F.sum(F.when(cond, F.col("conv")))
        return F.coalesce(s / F.nullif(n, F.lit(0)).cast("double"), F.lit(0.0))
    v = per.agg(
        rate((F.col("has_v") == 0) & (F.col("has_c") == 0)).alias("v0"),
        rate((F.col("has_v") == 1) & (F.col("has_c") == 0)).alias("vv"),
        rate((F.col("has_v") == 0) & (F.col("has_c") == 1)).alias("vc"),
        rate((F.col("has_v") == 1) & (F.col("has_c") == 1)).alias("vvc"),
    )
    view_row = v.select(
        F.lit("view").alias("channel"),
        F.round(
            0.5 * (F.col("vv") - F.col("v0")) + 0.5 * (F.col("vvc") - F.col("vc")), 6
        ).alias("shapley_value"),
    )
    click_row = v.select(
        F.lit("click").alias("channel"),
        F.round(
            0.5 * (F.col("vc") - F.col("v0")) + 0.5 * (F.col("vvc") - F.col("vv")), 6
        ).alias("shapley_value"),
    )
    return view_row.unionAll(click_row)


@register(
    "price_endings_audit",
    oracle="""
        WITH e AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS cents
            FROM orders
        ),
        c AS (SELECT cents, COUNT(*) AS n FROM e GROUP BY cents),
        t AS (SELECT SUM(n) AS tot, COUNT(*) AS n_endings FROM c)
        SELECT CAST(cents AS BIGINT) AS cents_ending,
               CAST(n AS BIGINT) AS n_orders,
               round(n / CAST(tot AS DOUBLE), 6) AS frac,
               round((n - tot / 100.0) * (n - tot / 100.0) / (tot / 100.0), 4)
                   AS chi2_contrib
        FROM c CROSS JOIN t
        ORDER BY n DESC, cents_ending
        LIMIT 10
    """,
    tags=("audit", "pricing", "distribution"),
)
def price_endings_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-ENDING audit: the distribution of cent endings across order
    totals, with per-ending chi-square contributions against uniform —
    human-set prices pile up on .99/.95/.00 (charm pricing), machine-
    generated or synthetic amounts are flat, and fraudsters writing fake
    invoices round suspiciously — the cents-digit cousin of
    stats_benford_first_digit (leading digits catch fabricated
    magnitudes; trailing cents catch fabricated PRICING).  Top-10 most
    common endings.

    Scale: map-side modulus, a ≤100-key count, scalar comparisons."""
    e = load(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 100).alias("cents")
    )
    c = e.groupBy("cents").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    exp = F.col("tot") / 100.0
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("cents").cast("bigint").alias("cents_ending"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias("frac"),
            F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 4).alias(
                "chi2_contrib"
            ),
        )
        .orderBy(F.desc("n_orders"), F.asc("cents_ending"))
        .limit(10)
    )


@register(
    "orders_repeat_probability_curve",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS k
            FROM orders
        ),
        at_k AS (
            SELECT k, COUNT(*) AS n_customers FROM ranked GROUP BY k
        )
        SELECT a.k AS order_number,
               CAST(a.n_customers AS BIGINT) AS n_reaching,
               CAST(COALESCE(b.n_customers, 0) AS BIGINT) AS n_continuing,
               round(COALESCE(b.n_customers, 0) / CAST(a.n_customers AS DOUBLE), 6)
                   AS repeat_probability
        FROM at_k a LEFT JOIN at_k b ON b.k = a.k + 1
        WHERE a.k <= 15
    """,
    tags=("retention", "repeat_purchase", "curve"),
)
def orders_repeat_probability_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEAT-PURCHASE curve: of customers who reached their k-th order,
    the fraction who placed a (k+1)-th — the curve whose early slope is
    the loyalty cliff (P(2nd|1st) is the single most diagnostic
    retention number in commerce; it typically jumps after k=2 as
    habitual buyers self-select).  First 15 ranks.

    Scale: one customer-partitioned rank window, a rank histogram, and
    a shifted self-join over ≤ max-rank rows — the curve is
    rank-cardinality-sized regardless of order volume."""
    ranked = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("k"),
    )
    at_k = ranked.groupBy("k").agg(F.count(F.lit(1)).alias("n_customers"))
    a = at_k.alias("a")
    b = at_k.select(F.col("k").alias("kb"), F.col("n_customers").alias("nb"))
    return (
        a.join(b, F.col("a.k") + 1 == F.col("kb"), "left")
        .where(F.col("a.k") <= 15)
        .select(
            F.col("a.k").alias("order_number"),
            F.col("a.n_customers").cast("bigint").alias("n_reaching"),
            F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("n_continuing"),
            F.round(
                F.coalesce(F.col("nb"), F.lit(0))
                / F.col("a.n_customers").cast("double"),
                6,
            ).alias("repeat_probability"),
        )
    )


@register(
    "relational_division_all_orders_above",
    oracle="""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               MIN(o_totalprice) AS min_order_value
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 3 AND MIN(o_totalprice) > 150000.0
    """,
    tags=("relational_division", "forall", "sql_surface"),
)
def relational_division_all_orders_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION (the FORALL quantifier): customers with ≥ 3
    orders, EVERY one of which exceeds $150k — "division" is the
    textbook relational operator SQL famously lacks as a keyword, and
    the MIN-over-group rewrite is its efficient form (the double
    NOT EXISTS formulation walks the data twice; MIN > threshold is one
    aggregation and states the same ∀).  The consistently-premium
    customer roster, not just high-average (one cheap order disqualifies
    — averages can't say that).

    Scale: one customer-keyed aggregation with map-side partial MIN —
    the quantifier costs nothing beyond the rollup."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_order_value"),
        )
        .where((F.col("n_orders") >= 3) & (F.col("min_order_value") > 150000.0))
    )


@register(
    "reach_cumulative_users",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
            FROM events GROUP BY user_id
        ),
        daily_new AS (
            SELECT d0 AS day, COUNT(*) AS n_new FROM first_day GROUP BY d0
        )
        SELECT day,
               CAST(n_new AS BIGINT) AS n_new_users,
               CAST(SUM(n_new) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumulative_reach
        FROM daily_new
    """,
    tags=("growth", "reach", "first_appearance"),
)
def reach_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE REACH: distinct users ever seen, by day — computed via
    the FIRST-APPEARANCE trick (each user contributes once, on their
    first day; a running sum of first-appearances IS the running
    distinct count) instead of re-counting distinct users per day
    prefix, which is O(days × users).  The same rewrite that makes
    corpus_heaps_law_fit cheap, applied to audience growth; the curve's
    flattening is market saturation.

    Scale: one user-keyed MIN, a day histogram, and a running sum over
    the calendar-bounded day grid — running-distinct at aggregation
    cost."""
    first_day = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    daily_new = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.select(
        "day",
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_reach"),
    )


@register(
    "nested_agg_avg_of_sums",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_nationkey, o.o_custkey,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS cust_total
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey, o.o_custkey
        )
        SELECT n.n_name,
               COUNT(*) AS n_customers,
               round(CAST(SUM(CAST(round(cust_total, 2) AS DECIMAL(28,2)))
                          AS DOUBLE) / COUNT(*), 2) AS avg_customer_total
        FROM per_cust p JOIN nation n ON n.n_nationkey = p.c_nationkey
        GROUP BY n.n_name
    """,
    tags=("agg", "nested", "sql_surface"),
)
def nested_agg_avg_of_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE OF AGGREGATES: average per-customer lifetime total by
    nation — the two-level rollup (SUM per customer, then AVG per
    nation) that a single-level AVG(o_totalprice) silently gets wrong
    (it averages ORDERS, weighting busy customers up; this averages
    CUSTOMERS).  The most common analyst-SQL trap, pinned as an engine
    surface query.

    Scale: the inner rollup shuffles on (nation, customer); the outer
    on nation — the second shuffle is customer-cardinality-sized, and
    Catalyst needs no subquery materialization, just two exchanges."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("cust_total")
        )
    )
    return (
        per_cust.join(n, per_cust["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.round("cust_total", 2).cast("decimal(28,2)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_customer_total"),
        )
    )


@register(
    "participation_inequality_901",
    oracle="""
        WITH per AS (
            SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk,
                   COUNT(*) OVER () AS n_users,
                   SUM(n) OVER () AS total,
                   SUM(n) OVER (ORDER BY n DESC, user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM per
        )
        SELECT mark, share FROM (
            SELECT 'top_1pct' AS mark,
                   round(MAX(CASE WHEN rnk <= greatest(n_users // 100, 1)
                                  THEN cum END) / CAST(MAX(total) AS DOUBLE), 6)
                       AS share
            FROM ranked
            UNION ALL
            SELECT 'top_10pct',
                   round(MAX(CASE WHEN rnk <= greatest(n_users // 10, 1)
                                  THEN cum END) / CAST(MAX(total) AS DOUBLE), 6)
            FROM ranked
            UNION ALL
            SELECT 'top_50pct',
                   round(MAX(CASE WHEN rnk <= greatest(n_users // 2, 1)
                                  THEN cum END) / CAST(MAX(total) AS DOUBLE), 6)
            FROM ranked
        )
    """,
    tags=("social", "inequality", "participation"),
)
def participation_inequality_901(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTICIPATION INEQUALITY (the 90-9-1 rule): the share of all
    events produced by the top 1%, 10%, and 50% most active users — the
    community-health profile (UGC platforms run ~90% of content from
    ~1% of users; a flat profile reads as bot traffic or synthetic
    data — the fixtures' uniform users land near the flat end, which is
    the honest readout).  vocab_coverage_curve's shape applied to
    people.

    Scale: one per-user count, one ranked cumulative window over the
    USER table (≪ events), three report marks."""
    per = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    ranked = per.select(
        "n",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_users"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    def mark(label, frac_den):
        cut = F.greatest(F.floor(F.col("n_users") / frac_den), F.lit(1))
        return ranked.agg(
            F.lit(label).alias("mark"),
            F.round(
                F.max(F.when(F.col("rnk") <= cut, F.col("cum")))
                / F.max("total").cast("double"),
                6,
            ).alias("share"),
        )
    return mark("top_1pct", 100).unionAll(mark("top_10pct", 10)).unionAll(
        mark("top_50pct", 2)
    )


@register(
    "graph_rich_club",
    oracle=f"""
        WITH {_COORDER_EDGES_SQL},
        und AS (
            SELECT u AS a, v AS b FROM oriented
            UNION ALL SELECT v, u FROM oriented
        ),
        deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
        hubs AS (
            SELECT node FROM (
                SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rnk
                FROM deg
            ) WHERE rnk <= 50
        ),
        club_edges AS (
            SELECT e.u, e.v FROM oriented e
            JOIN hubs h1 ON h1.node = e.u
            JOIN hubs h2 ON h2.node = e.v
        )
        SELECT CAST(50 AS BIGINT) AS n_hubs,
               CAST((SELECT COUNT(*) FROM club_edges) AS BIGINT) AS club_edges,
               round((SELECT COUNT(*) FROM club_edges)
                     / (50 * 49 / 2.0), 6) AS rich_club_coefficient
    """,
    tags=("graph", "rich_club", "structure"),
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB coefficient: edge density among the 50 highest-degree
    parts — hubs that preferentially co-order with other hubs (φ → 1)
    form an elite core whose failure is systemic; φ near the background
    density means hubs are independent stars (hub-and-spoke).  With
    degree assortativity this pins WHERE the graph's connectivity
    concentrates, not just whether.

    Scale: degrees are one count; hub selection a 50-row top-k; the
    club-edge count is two semi-join probes of the edge list against
    the broadcast hub set."""
    oriented = _coorder_oriented_edges(spark, sf_dir)
    und = oriented.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        oriented.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    hubs = (
        deg.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.desc("d"), F.asc("node")))
        )
        .where(F.col("rnk") <= 50)
        .select("node")
    )
    club = oriented.join(
        hubs.select(F.col("node").alias("u")), "u", "left_semi"
    ).join(hubs.select(F.col("node").alias("v")), "v", "left_semi")
    n_club = club.count()
    return (
        load(spark, sf_dir, "lineitem")
        .limit(1)
        .select(
            F.lit(50).cast("bigint").alias("n_hubs"),
            F.lit(n_club).cast("bigint").alias("club_edges"),
            F.round(F.lit(n_club) / F.lit(50 * 49 / 2.0), 6).alias(
                "rich_club_coefficient"
            ),
        )
    )


@register(
    "segment_migration_matrix",
    oracle="""
        WITH y96 AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
            FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
        ),
        y97 AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
            FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey
        ),
        s96 AS (
            SELECT o_custkey,
                   CASE NTILE(3) OVER (ORDER BY sp, o_custkey)
                        WHEN 1 THEN 'low' WHEN 2 THEN 'mid' ELSE 'high' END AS seg
            FROM y96
        ),
        s97 AS (
            SELECT o_custkey,
                   CASE NTILE(3) OVER (ORDER BY sp, o_custkey)
                        WHEN 1 THEN 'low' WHEN 2 THEN 'mid' ELSE 'high' END AS seg
            FROM y97
        )
        SELECT COALESCE(a.seg, 'absent') AS seg_1996,
               COALESCE(b.seg, 'absent') AS seg_1997,
               COUNT(*) AS n_customers
        FROM s96 a FULL OUTER JOIN s97 b ON a.o_custkey = b.o_custkey
        GROUP BY 1, 2
    """,
    tags=("crm", "segmentation", "migration"),
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT MIGRATION matrix: customers terciled by annual spend in
    1996 and again in 1997 (ties broken by key so both engines cut
    identical terciles), cross-tabulated — with 'absent' rows capturing
    churn-out and new-in: the CRM mobility table that says whether
    'high-value' is a stable trait or annual churn (diagonal mass =
    stickiness; the high→absent cell is the revenue-at-risk headline).

    Scale: two year-sliced per-customer rollups, two NTILE windows over
    customer-cardinality tables, one full-outer on the customer key,
    a ≤16-cell rollup."""
    o = load(spark, sf_dir, "orders")
    def seg(year):
        y = (
            o.where(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sp")
            )
        )
        t = F.ntile(3).over(Window.orderBy(F.asc("sp"), F.asc("o_custkey")))
        return y.select(
            "o_custkey",
            F.when(t == 1, "low").when(t == 2, "mid").otherwise("high").alias("seg"),
        )
    a = seg(1996).select(F.col("o_custkey").alias("k"), F.col("seg").alias("sa"))
    b = seg(1997).select(F.col("o_custkey").alias("k"), F.col("seg").alias("sb"))
    return (
        a.join(b, "k", "full_outer")
        .groupBy(
            F.coalesce("sa", F.lit("absent")).alias("seg_1996"),
            F.coalesce("sb", F.lit("absent")).alias("seg_1997"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "pivot_multi_aggregate",
    oracle="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
               COUNT(*) FILTER (o_orderstatus = 'F') AS n_finished,
               COUNT(*) FILTER (o_orderstatus = 'P') AS n_pending,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (o_orderstatus = 'O') AS DOUBLE) AS rev_open,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (o_orderstatus = 'F') AS DOUBLE) AS rev_finished,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (o_orderstatus = 'P') AS DOUBLE) AS rev_pending
        FROM orders
        GROUP BY year(o_orderdate)
    """,
    tags=("pivot", "multi_aggregate", "sql_surface"),
)
def pivot_multi_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-AGGREGATE pivot: order count AND revenue pivoted by status
    into one wide row per year — Spark's pivot() takes several agg
    expressions at once and suffixes column names; the query pins that
    surface with explicitly aliased aggregates so the wide schema is
    engine-stable (the single-agg variant is pivot_orders_status).  The
    wide shape is what BI layers and spreadsheet exports consume.

    Scale: one shuffle on the groupBy key; the pivot's status domain is
    declared (3 values), so Catalyst plans a fixed-width aggregate, no
    second pass to discover columns."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
        )
        .select(
            "yr",
            F.col("O_n").alias("n_open"),
            F.col("F_n").alias("n_finished"),
            F.col("P_n").alias("n_pending"),
            F.col("O_rev").alias("rev_open"),
            F.col("F_rev").alias("rev_finished"),
            F.col("P_rev").alias("rev_pending"),
        )
    )


@register(
    "events_transition_latency",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts,
                   LAG(event_type) OVER w AS prev_type,
                   epoch(ts) - epoch(LAG(ts) OVER w) AS gap
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT prev_type, event_type AS next_type,
               COUNT(*) AS n_transitions,
               round(CAST(SUM(CAST(round(gap, 3) AS DECIMAL(28,3))) AS DOUBLE)
                     / COUNT(*), 3) AS mean_gap_sec,
               round(quantile_cont(gap, 0.5), 3) AS median_gap_sec
        FROM seq
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    """,
    tags=("sequence", "markov", "latency"),
)
def events_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITION LATENCY matrix: for every consecutive event-type pair
    within a user's stream, the count, mean, and median seconds between
    them — events_markov_transitions with TIME on the edges: the
    view→click gap is perceived responsiveness, click→purchase is
    decision latency, error→anything is recovery time.  Mean and median
    together expose the skew (funnel latencies are long-tailed; the
    mean alone misleads).

    Scale: one user-keyed lag window (the sessionization exchange), one
    (prev, next)-keyed aggregate — type² output."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        (ep - F.lag(ep).over(w)).alias("gap"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(
                F.sum(F.round("gap", 3).cast("decimal(28,3)")).cast("double")
                / F.count(F.lit(1)),
                3,
            ).alias("mean_gap_sec"),
            F.round(F.expr("percentile(gap, 0.5)"), 3).alias("median_gap_sec"),
        )
    )


@register(
    "calendar_comparability_eval",
    oracle="""
        WITH w AS (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM (
                SELECT o_totalprice,
                       date_diff('day', DATE '1970-01-05',
                                 CAST(date_trunc('day', o_orderdate) AS DATE)) // 7
                           AS wk
                FROM orders
            )
            GROUP BY 1970 + wk // 52,
                     (wk % 52) // 13 * 3
                         + CASE WHEN (wk % 52) % 13 < 4 THEN 1
                                WHEN (wk % 52) % 13 < 8 THEN 2 ELSE 3 END
        ),
        m AS (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders
            GROUP BY date_trunc('month', o_orderdate)
        ),
        cv AS (
            SELECT 'fiscal_445' AS calendar, COUNT(*) AS n_periods,
                   CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(round(rev * rev, 4) AS DECIMAL(38,4)))
                        AS DOUBLE) AS ss
            FROM w
            UNION ALL
            SELECT 'calendar_month', COUNT(*),
                   CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE),
                   CAST(SUM(CAST(round(rev * rev, 4) AS DECIMAL(38,4))) AS DOUBLE)
            FROM m
        )
        SELECT calendar, CAST(n_periods AS BIGINT) AS n_periods,
               round(sqrt(greatest((ss - s * s / n_periods) / (n_periods - 1), 0.0))
                     / (s / n_periods), 6) AS revenue_cv
        FROM cv
    """,
    tags=("calendar", "eval", "fiscal_445"),
)
def calendar_comparability_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR COMPARABILITY eval: coefficient of variation of
    per-period revenue under the 4-4-5 fiscal calendar vs calendar
    months — the 4-4-5 sales pitch is that whole-week periods remove
    the artificial variance calendar months inject (28-31 days, ragged
    weekday mixes), and this query MEASURES whether that holds on this
    data instead of asserting it.  Mixed 4- and 5-week periods add
    their own variance; the comparison is honest about both effects.

    Scale: two period rollups (calendar-bounded outputs) and a 2-row
    moment aggregate."""
    o = load(spark, sf_dir, "orders")
    wk = F.floor(
        F.datediff(
            F.date_trunc("day", "o_orderdate").cast("date"),
            F.lit("1970-01-05").cast("date"),
        )
        / 7
    )
    period = (
        (F.lit(1970) + F.floor(wk / 52)) * 100
        + F.floor((wk % 52) / 13) * 3
        + F.when((wk % 52) % 13 < 4, 1).when((wk % 52) % 13 < 8, 2).otherwise(3)
    )
    w = o.groupBy(period.alias("p")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev")
    )
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("p")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev")
    )
    def moments(df, label):
        return df.agg(
            F.lit(label).alias("calendar"),
            F.count(F.lit(1)).alias("n_periods"),
            F.sum(F.round("rev", 2).cast("decimal(28,2)")).cast("double").alias("s"),
            F.sum(F.round(F.col("rev") * F.col("rev"), 4).cast("decimal(38,4)"))
            .cast("double")
            .alias("ss"),
        )
    cv = moments(w, "fiscal_445").unionAll(moments(m, "calendar_month"))
    mean = F.col("s") / F.col("n_periods")
    sd = F.sqrt(
        F.greatest(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n_periods"))
            / (F.col("n_periods") - 1),
            F.lit(0.0),
        )
    )
    return cv.select(
        "calendar",
        F.col("n_periods").cast("bigint").alias("n_periods"),
        F.round(sd / mean, 6).alias("revenue_cv"),
    )


@register(
    "returns_by_basket_size",
    oracle="""
        WITH per AS (
            SELECT l_orderkey, COUNT(*) AS n_lines,
                   COUNT(*) FILTER (l_returnflag = 'R') AS n_ret
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT CASE WHEN n_lines <= 2 THEN '1-2'
                    WHEN n_lines <= 4 THEN '3-4'
                    ELSE '5+' END AS basket_size,
               COUNT(*) AS n_orders,
               CAST(SUM(n_lines) AS BIGINT) AS n_lines,
               CAST(SUM(n_ret) AS BIGINT) AS n_returned,
               round(SUM(n_ret) / CAST(SUM(n_lines) AS DOUBLE), 6)
                   AS return_rate
        FROM per
        GROUP BY 1
    """,
    tags=("returns", "interaction", "ops"),
)
def returns_by_basket_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURN RATE × BASKET SIZE interaction: line-level return rates
    bucketed by how many lines the order carried — rising rates with
    basket size indicate bracketing behavior (order several, return
    most), flat rates say returns are item-driven; the two need opposite
    fixes (checkout UX vs product pages).  The grouped-then-bucketed
    shape avoids the ecological-inference trap of correlating at the
    line level.

    Scale: one order-keyed rollup, a 3-bucket regroup."""
    per = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_ret"),
    )
    bucket = (
        F.when(F.col("n_lines") <= 2, "1-2")
        .when(F.col("n_lines") <= 4, "3-4")
        .otherwise("5+")
    )
    return per.groupBy(bucket.alias("basket_size")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("n_ret").cast("bigint").alias("n_returned"),
        F.round(F.sum("n_ret") / F.sum("n_lines").cast("double"), 6).alias(
            "return_rate"
        ),
    )


@register(
    "activity_comovement_matrix",
    oracle="""
        WITH d AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        p AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.n AS x, b.n AS y
            FROM d a JOIN d b
              ON a.day = b.day AND a.event_type < b.event_type
        ),
        s AS (
            SELECT type_a, type_b, COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DOUBLE) AS syy
            FROM p GROUP BY type_a, type_b
        )
        SELECT type_a, type_b,
               round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                   AS daily_corr
        FROM s
    """,
    tags=("timeseries", "correlation", "comovement"),
)
def activity_comovement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVITY CO-MOVEMENT: Pearson correlation of DAILY volumes
    between every event-type pair — types that rise and fall together
    share a driver (campaigns, outages, seasonality), types that
    decouple have independent audiences; a sudden correlation break in
    a pair that normally co-moves is an instrumentation alarm.  The
    exact-DECIMAL correlation idiom on the type-pair grid.

    Scale: the daily rollup is the only data-sized pass; the pair join
    and moments run over days × types² small tables."""
    d = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    p = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("x"),
        F.col("b.n").alias("y"),
    )
    s = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,0)")).cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(18,0)") * F.col("y")).cast("double").alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("type_a", "type_b", F.round(r, 6).alias("daily_corr"))


@register(
    "inventory_safety_stock",
    oracle="""
        WITH weekly AS (
            SELECT l_partkey,
                   CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        s AS (
            SELECT l_partkey, COUNT(*) AS n,
                   CAST(SUM(CAST(round(q, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sq,
                   CAST(SUM(CAST(round(q * q, 4) AS DECIMAL(38,4))) AS DOUBLE)
                       AS sqq
            FROM weekly GROUP BY l_partkey
            HAVING COUNT(*) >= 5
        )
        SELECT l_partkey, CAST(n AS BIGINT) AS n_weeks,
               round(sq / n, 4) AS mean_weekly_demand,
               round(1.645 * sqrt(greatest((sqq - sq * sq / n) / (n - 1), 0.0)), 4)
                   AS safety_stock,
               round(sq / n
                     + 1.645 * sqrt(greatest((sqq - sq * sq / n) / (n - 1), 0.0)),
                     4) AS reorder_point
        FROM s
        ORDER BY reorder_point DESC, l_partkey
        LIMIT 20
    """,
    tags=("inventory", "safety_stock", "ops"),
)
def inventory_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAFETY STOCK + REORDER POINT at a 95% cycle service level: per
    part (≥ 5 observed weeks), mean weekly demand plus z₀.₉₅·σ of weekly
    demand — the textbook μ_L + zσ_L formula with a one-week replenish
    lead, turning the ABC-XYZ matrix's descriptive variance into the
    operational number a planner actually sets.  Top-20 highest reorder
    points (the parts that tie up the most buffer capital).

    Scale: the weekly rollup and per-part moments share the part-keyed
    shuffle with inventory_abc_xyz_matrix; the formula is map-side; the
    Gaussian z is the stated approximation (Poisson/NB variants swap
    the quantile)."""
    weekly = load(spark, sf_dir, "lineitem").groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").cast("date").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q"))
    s = (
        weekly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("q", 2).cast("decimal(18,2)")).cast("double").alias("sq"),
            F.sum(F.round(F.col("q") * F.col("q"), 4).cast("decimal(38,4)"))
            .cast("double")
            .alias("sqq"),
        )
        .where(F.col("n") >= 5)
    )
    sd = F.sqrt(
        F.greatest(
            (F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n")) / (F.col("n") - 1),
            F.lit(0.0),
        )
    )
    return (
        s.select(
            "l_partkey",
            F.col("n").cast("bigint").alias("n_weeks"),
            F.round(F.col("sq") / F.col("n"), 4).alias("mean_weekly_demand"),
            F.round(1.645 * sd, 4).alias("safety_stock"),
            F.round(F.col("sq") / F.col("n") + 1.645 * sd, 4).alias("reorder_point"),
        )
        .orderBy(F.desc("reorder_point"), F.asc("l_partkey"))
        .limit(20)
    )


@register(
    "first_order_value_predictiveness",
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS k
            FROM orders
        ),
        per AS (
            SELECT o_custkey,
                   MAX(CASE WHEN k = 1 THEN o_totalprice END) AS first_val,
                   CAST(SUM(CASE WHEN k > 1
                                 THEN CAST(o_totalprice AS DECIMAL(18,2))
                            END) AS DOUBLE) AS later_spend
            FROM ranked GROUP BY o_custkey
            HAVING COUNT(*) > 1
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(round(first_val, 2) AS DECIMAL(28,2)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(round(later_spend, 2) AS DECIMAL(28,2)))
                        AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(first_val * later_spend, 4)
                                 AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(round(first_val * first_val, 4)
                                 AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(round(later_spend * later_spend, 4)
                                 AS DECIMAL(38,4))) AS DOUBLE) AS syy
            FROM per
        ),
        med AS (SELECT quantile_disc(first_val, 0.5) AS m FROM per),
        lift AS (
            SELECT
                CAST(SUM(CAST(round(later_spend, 2) AS DECIMAL(28,2)))
                         FILTER (first_val > m) AS DOUBLE)
                    / NULLIF(COUNT(*) FILTER (first_val > m), 0) AS hi,
                CAST(SUM(CAST(round(later_spend, 2) AS DECIMAL(28,2)))
                         FILTER (first_val <= m) AS DOUBLE)
                    / NULLIF(COUNT(*) FILTER (first_val <= m), 0) AS lo
            FROM per CROSS JOIN med
        )
        SELECT CAST(s.n AS BIGINT) AS n_repeat_customers,
               round((s.n * s.sxy - s.sx * s.sy)
                     / (sqrt(s.n * s.sxx - s.sx * s.sx)
                        * sqrt(s.n * s.syy - s.sy * s.sy)), 6) AS correlation,
               round(l.hi / l.lo, 6) AS high_vs_low_lift
        FROM s CROSS JOIN lift l
    """,
    tags=("growth", "ltv", "predictiveness"),
)
def first_order_value_predictiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER predictiveness: does a customer's first order value
    predict their subsequent spend?  Pearson correlation plus the
    above/below-median-first-order LIFT in later spend — the two numbers
    that decide whether acquisition should bid on initial basket value
    (near-zero on this synthetic data: first orders are independent of
    later ones by construction, and the estimator says so).

    Scale: one rank window, one customer rollup, exact-DECIMAL moments
    and a median-split conditional aggregate — all
    customer-cardinality."""
    ranked = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("k"),
    )
    per = (
        ranked.groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("k") == 1, F.col("o_totalprice"))).alias("first_val"),
            F.sum(
                F.when(F.col("k") > 1, F.col("o_totalprice").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("later_spend"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 1)
        .drop("cnt")
    )
    s = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("first_val", 2).cast("decimal(28,2)")).cast("double").alias("sx"),
        F.sum(F.round("later_spend", 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round(F.col("first_val") * F.col("later_spend"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.round(F.col("first_val") * F.col("first_val"), 4).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("later_spend") * F.col("later_spend"), 4).cast(
                "decimal(38,4)"
            )
        )
        .cast("double")
        .alias("syy"),
    )
    med = per.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY first_val)").alias("m")
    )
    pm = per.crossJoin(F.broadcast(med))
    lift = pm.agg(
        (
            F.sum(
                F.when(
                    F.col("first_val") > F.col("m"),
                    F.round("later_spend", 2).cast("decimal(28,2)"),
                )
            ).cast("double")
            / F.nullif(F.count(F.when(F.col("first_val") > F.col("m"), 1)), F.lit(0))
        ).alias("hi"),
        (
            F.sum(
                F.when(
                    F.col("first_val") <= F.col("m"),
                    F.round("later_spend", 2).cast("decimal(28,2)"),
                )
            ).cast("double")
            / F.nullif(F.count(F.when(F.col("first_val") <= F.col("m"), 1)), F.lit(0))
        ).alias("lo"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.crossJoin(F.broadcast(lift)).select(
        F.col("n").cast("bigint").alias("n_repeat_customers"),
        F.round(corr, 6).alias("correlation"),
        F.round(F.col("hi") / F.col("lo"), 6).alias("high_vs_low_lift"),
    )


@register(
    "activation_latency_percentiles",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_first_buy
            FROM events GROUP BY user_id
        ),
        gaps AS (
            SELECT epoch(t_first_buy) - epoch(t_signup) AS gap_sec
            FROM firsts
            WHERE t_signup IS NOT NULL AND t_first_buy IS NOT NULL
              AND t_first_buy >= t_signup
        )
        SELECT CAST((SELECT COUNT(*) FROM firsts
                     WHERE t_signup IS NOT NULL) AS BIGINT) AS n_signups,
               CAST(COUNT(*) AS BIGINT) AS n_activated,
               round(COUNT(*) / CAST(NULLIF((SELECT COUNT(*) FROM firsts
                                             WHERE t_signup IS NOT NULL), 0)
                                     AS DOUBLE), 6)
                   AS activation_rate,
               round(quantile_cont(gap_sec, 0.5) / 3600, 4) AS p50_hours,
               round(quantile_cont(gap_sec, 0.9) / 3600, 4) AS p90_hours
        FROM gaps
    """,
    tags=("growth", "activation", "latency"),
)
def activation_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVATION LATENCY: time from a user's first signup event to
    their first purchase — activation rate plus p50/p90 hours, the
    product-led-growth metric that sets the onboarding window ("most
    who ever convert do so within X hours"; nudges after p90 are spam).
    LIFETIME-scoped first-to-first, unlike funnel_time_to_convert's
    session-scoped path; users who purchased before any signup are
    excluded as instrumentation noise, counted neither side.

    Scale: one conditional-MIN rollup per user, then scalar percentiles
    over the activated set.  Zero signups (reachable only on an empty
    or signup-free feed) yields a NULL rate, not an ANSI 0/0 error —
    NULLIF discipline on both engines (r11 empty-input hardening)."""
    firsts = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_first_buy"
        ),
    )
    n_signups = firsts.where(F.col("t_signup").isNotNull()).count()
    gaps = firsts.where(
        F.col("t_signup").isNotNull()
        & F.col("t_first_buy").isNotNull()
        & (F.col("t_first_buy") >= F.col("t_signup"))
    ).select((epoch("t_first_buy") - epoch("t_signup")).alias("gap_sec"))
    return gaps.agg(
        F.lit(n_signups).cast("bigint").alias("n_signups"),
        F.count(F.lit(1)).cast("bigint").alias("n_activated"),
        F.round(
            F.count(F.lit(1)) / F.nullif(F.lit(float(n_signups)), F.lit(0.0)), 6
        ).alias("activation_rate"),
        F.round(F.expr("percentile(gap_sec, 0.5)") / 3600, 4).alias("p50_hours"),
        F.round(F.expr("percentile(gap_sec, 0.9)") / 3600, 4).alias("p90_hours"),
    )


@register(
    "discount_response_curve",
    oracle="""
        SELECT round(l_discount, 2) AS discount_level,
               COUNT(*) AS n_lines,
               round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 4) AS mean_quantity,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS net_revenue
        FROM lineitem
        GROUP BY round(l_discount, 2)
    """,
    tags=("pricing", "response_curve", "empirical"),
)
def discount_response_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL discount-response curve: mean quantity and net revenue
    at each observed discount level — the table analysts actually plot
    before (or instead of) trusting price_elasticity_discount's single
    slope: non-monotonic cells expose promo mix effects the regression
    averages away.  Discount levels are the data's own grid (2-dp), no
    bucketing choices to defend.

    Scale: one grouped aggregate on the ~10-level discount key with
    map-side partials — the cheapest pricing read in the registry."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.round("l_discount", 2).alias("discount_level"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_quantity"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("net_revenue"),
        )
    )


@register(
    "graph_edge_formation_rate",
    oracle="""
        WITH op AS (
            SELECT l.l_orderkey,
                   CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
                   list_sort(list_distinct(list(l.l_partkey))) AS ps
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_orderkey, date_trunc('month', o.o_orderdate)
            HAVING len(list_distinct(list(l.l_partkey))) BETWEEN 2 AND 4
        ),
        pe AS (
            SELECT month, p1.u, p2.v FROM (
                SELECT month, unnest(ps) AS u, ps FROM op
            ) p1, LATERAL (SELECT unnest(p1.ps) AS v) p2
            WHERE p1.u < p2.v
        ),
        first_seen AS (
            SELECT u, v, MIN(month) AS born FROM pe GROUP BY u, v
        )
        SELECT born AS month,
               COUNT(*) AS n_new_edges,
               CAST(SUM(COUNT(*)) OVER (ORDER BY born
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumulative_edges
        FROM first_seen
        GROUP BY born
    """,
    tags=("graph", "temporal", "edge_formation"),
)
def graph_edge_formation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL GRAPH growth: new co-order edges per month (first month
    each part pair was ever ordered together) and the cumulative edge
    count — the graph-evolution curve whose flattening means the
    co-purchase structure has saturated (new orders re-walk known
    edges; recommendation models can train less often), and whose
    spikes date assortment changes.  The first-appearance rewrite again
    (reach_cumulative_users for edges): never a per-month distinct
    re-count of the cumulative graph.

    Scale: basket pairs carry their order month; one (u, v) MIN and a
    month histogram + running sum over the calendar."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    op = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps").between(2, 4))
    )
    pe = op.select(
        "month", F.explode(F.expr(_COORDER_PAIR_EXPR)).alias("e")
    ).select("month", "e.u", "e.v")
    first_seen = pe.groupBy("u", "v").agg(F.min("month").alias("born"))
    monthly = first_seen.groupBy(F.col("born").alias("month")).agg(
        F.count(F.lit(1)).alias("n_new_edges")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month",
        "n_new_edges",
        F.sum("n_new_edges").over(w).cast("bigint").alias("cumulative_edges"),
    )


@register(
    "pricing_consistency_audit",
    oracle="""
        WITH j AS (
            SELECT l.l_orderkey, l.l_linenumber,
                   l.l_extendedprice / (l.l_quantity * p.p_retailprice) AS ratio
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0 AND p.p_retailprice > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               round(quantile_cont(ratio, 0.5), 6) AS median_ratio,
               round(quantile_cont(ratio, 0.01), 6) AS p01_ratio,
               round(quantile_cont(ratio, 0.99), 6) AS p99_ratio,
               CAST(COUNT(*) FILTER (ratio < 0.5 OR ratio > 1.5) AS BIGINT)
                   AS n_out_of_band
        FROM j
    """,
    tags=("audit", "pricing", "consistency"),
)
def pricing_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICING CONSISTENCY audit: the ratio of each invoice line's
    extended price to quantity × catalog retail price — the invoice-vs-
    catalog reconciliation every AP control runs (median ≈ the standard
    trade-discount level; out-of-band lines beyond ±50% are keying
    errors, unauthorized discounts, or fraud).  Reported as the ratio
    distribution plus the exception count — the exception LIST is the
    same plan minus the final aggregate.

    Scale: the part join broadcasts the dimension; ratios are map-side;
    exact percentiles over the ratio column (sketchable at 100 TB)."""
    l = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part").where(F.col("p_retailprice") > 0).select(
        "p_partkey", "p_retailprice"
    )
    j = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        (
            F.col("l_extendedprice")
            / (F.col("l_quantity") * F.col("p_retailprice"))
        ).alias("ratio")
    )
    # r18: ONE percentile buffer, not three — the array form computes
    # all three quantiles from a single sorted accumulation (identical
    # interpolation, identical doubles), where three scalar percentile
    # aggregates each collected the full ratio column separately
    # (guide §1.2 per-task work).
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr("percentile(ratio, array(0.5, 0.01, 0.99))").alias("__pct"),
        F.count(F.when((F.col("ratio") < 0.5) | (F.col("ratio") > 1.5), 1))
        .cast("bigint")
        .alias("n_out_of_band"),
    ).select(
        "n_lines",
        F.round(F.col("__pct")[0], 6).alias("median_ratio"),
        F.round(F.col("__pct")[1], 6).alias("p01_ratio"),
        F.round(F.col("__pct")[2], 6).alias("p99_ratio"),
        "n_out_of_band",
    )


@register(
    "priority_sla_fairness",
    oracle="""
        WITH lt AS (
            SELECT o.o_orderpriority,
                   date_diff('day', CAST(date_trunc('day', o.o_orderdate) AS DATE),
                             CAST(date_trunc('day', l.l_shipdate) AS DATE)) AS days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_shipments,
               round(quantile_cont(days, 0.5), 4) AS p50_days,
               round(quantile_cont(days, 0.9), 4) AS p90_days
        FROM lt GROUP BY o_orderpriority
    """,
    tags=("sla", "priority", "fairness"),
)
def priority_sla_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SLA fairness: ship lead-time p50/p90 per order priority
    class — the audit of whether '1-URGENT' actually ships faster than
    '5-LOW' (if the percentiles are flat across classes, the priority
    field is theater and every SLA conversation built on it is too; on
    these fixtures they ARE flat, which is the honest finding).  The
    priority cut of supplier_leadtime_p90's supplier view.

    Scale: the shared orderkey join; per-class exact percentiles over
    a 5-class key."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.date_trunc("day", "l_shipdate").cast("date"),
                F.date_trunc("day", "o_orderdate").cast("date"),
            ).alias("days"),
        )
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
        F.round(F.expr("percentile(days, 0.5)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(days, 0.9)"), 4).alias("p90_days"),
    )


@register(
    "path_entropy_by_outcome",
    oracle=f"""
        WITH {sessions_sql("event_type")}, numbered AS (
            SELECT user_id, session_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                      ORDER BY ts, event_id) AS rn
            FROM sess
        ), per AS (
            SELECT user_id, session_id,
                   array_to_string(list(event_type ORDER BY rn) FILTER (rn <= 3),
                                   '>') AS path3,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM numbered GROUP BY user_id, session_id
        ), pc AS (
            SELECT converted, path3, COUNT(*) AS c FROM per
            GROUP BY converted, path3
        ), tot AS (
            SELECT converted, SUM(c) AS t FROM pc GROUP BY converted
        )
        SELECT CAST(pc.converted AS INT) AS converted,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_paths,
               CAST(ANY_VALUE(tot.t) AS BIGINT) AS n_sessions,
               round(CAST(SUM(CAST(round(-(pc.c / CAST(tot.t AS DOUBLE))
                                         * ln(pc.c / CAST(tot.t AS DOUBLE)), 9)
                                   AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS path_entropy
        FROM pc JOIN tot ON pc.converted = tot.converted
        GROUP BY pc.converted
    """,
    tags=("funnel", "entropy", "paths"),
)
def path_entropy_by_outcome(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATH ENTROPY by OUTCOME: Shannon entropy of the first-3-event
    path distribution, split by whether the session converted — low
    entropy among converters means a few golden paths carry the
    purchases (pave them); equal entropy says conversion is
    path-independent and the funnel redesign backlog is fighting noise.
    The outcome-conditioned refinement of events_top_paths.

    Scale: sessionization windows, a per-session ordered collect of 3
    elements, and a (outcome, path) count → entropy per class with
    DECIMAL accumulation — path cardinality is types³ bounded."""
    sess = _sessionize(load(spark, sf_dir, "events"), "event_type")
    numbered = sess.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    )
    per = numbered.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.expr(
                "transform(filter(array_sort(collect_list(struct(rn, event_type)),"
                " (a, b) -> a.rn - b.rn), x -> x.rn <= 3), x -> x.event_type)"
            ),
            ">",
        ).alias("path3"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    pc = per.groupBy("converted", "path3").agg(F.count(F.lit(1)).alias("c"))
    tot = pc.groupBy("converted").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t").cast("double")
    return (
        pc.join(tot, "converted")
        .groupBy(F.col("converted").cast("int").alias("converted"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_paths"),
            F.first("t").cast("bigint").alias("n_sessions"),
            F.round(
                F.sum(F.round(-p * F.log(p), 9).cast("decimal(28,9)")).cast("double"),
                6,
            ).alias("path_entropy"),
        )
    )


@register(
    "shipping_consolidation_opportunity",
    oracle="""
        WITH per AS (
            SELECT o_custkey,
                   CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1, 2
        )
        SELECT CAST(strftime(wk, '%Y-%m') AS VARCHAR) AS month,
               CAST(COUNT(CASE WHEN n_orders > 1 THEN 1 END) AS BIGINT)
                   AS multi_order_cust_weeks,
               CAST(SUM(CASE WHEN n_orders > 1 THEN n_orders - 1 ELSE 0 END)
                    AS BIGINT) AS consolidatable_shipments,
               round(SUM(CASE WHEN n_orders > 1 THEN n_orders - 1 ELSE 0 END)
                     / CAST(SUM(n_orders) AS DOUBLE), 6) AS consolidation_rate
        FROM per
        GROUP BY strftime(wk, '%Y-%m')
    """,
    tags=("logistics", "consolidation", "ops"),
)
def shipping_consolidation_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIPPING CONSOLIDATION opportunity: customers placing multiple
    orders in the same week, monthly — each extra same-week order is a
    shipment that could have ridden along (the n−1 excess is the freight
    line a consolidation program attacks, and the rate trend says
    whether order-batching nudges are working).

    Scale: one (customer, week) count, a month rollup — the report
    costs one orders scan."""
    per = load(spark, sf_dir, "orders").groupBy(
        "o_custkey", F.date_trunc("week", "o_orderdate").cast("date").alias("wk")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    excess = F.when(F.col("n_orders") > 1, F.col("n_orders") - 1).otherwise(0)
    return per.groupBy(F.date_format("wk", "yyyy-MM").alias("month")).agg(
        F.count(F.when(F.col("n_orders") > 1, 1)).cast("bigint").alias(
            "multi_order_cust_weeks"
        ),
        F.sum(excess).cast("bigint").alias("consolidatable_shipments"),
        F.round(F.sum(excess) / F.sum("n_orders").cast("double"), 6).alias(
            "consolidation_rate"
        ),
    )


@register(
    "users_activity_bitmask",
    oracle="""
        WITH base AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
                      FROM events),
        act AS (
            SELECT DISTINCT user_id,
                   date_diff('day', d0, CAST(date_trunc('day', ts) AS DATE)) AS d
            FROM events CROSS JOIN base
        ),
        packed AS (
            SELECT user_id,
                   CAST(SUM(CAST(1 AS BIGINT) << d) AS BIGINT) AS mask,
                   COUNT(*) AS n_active_days
            FROM act WHERE d < 62 GROUP BY user_id
        )
        SELECT user_id, mask, CAST(n_active_days AS BIGINT) AS n_active_days,
               CAST(bit_count(CAST(mask AS BIGINT)
                              & CAST(2360311741714804832 AS BIGINT)) AS BIGINT)
                   AS n_weekend_days
        FROM packed
        ORDER BY n_active_days DESC, user_id
        LIMIT 20
    """,
    tags=("bitmap", "retention", "representation"),
)
def users_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-PACKED activity calendars: each user's active days as one
    BIGINT bitmask (bit d = active on day-offset d, 62-day window) —
    the roaring-bitmap idea in miniature: retention intersections,
    streaks, and cohort overlaps become BITWISE AND + bit_count instead
    of joins (the weekend-day count here is one mask AND against the
    precomputed weekend-bits constant).  Top-20 most active users with
    their masks.

    The weekend constant packs bits {5,6, 12,13, ...} for the Saturday/
    Sunday offsets of the fixtures' Monday day-0 origin — computed once,
    embedded, and engine-independent integer math throughout.

    Scale: one distinct-(user, day) reduction, integer shifts and sums
    per user — the packed masks are 8 bytes/user/quarter, the
    representation you ship to a feature store."""
    base = load(spark, sf_dir, "events").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    act = (
        load(spark, sf_dir, "events")
        .crossJoin(F.broadcast(base))
        .select(
            "user_id",
            F.datediff(F.date_trunc("day", "ts").cast("date"), "d0").alias("d"),
        )
        .distinct()
        .where(F.col("d") < 62)
    )
    weekend_mask = sum(1 << d for d in range(62) if d % 7 in (5, 6))
    packed = act.groupBy("user_id").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(d AS INT))"))
        .cast("bigint")
        .alias("mask"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
    )
    return (
        packed.select(
            "user_id",
            "mask",
            "n_active_days",
            F.bit_count(F.col("mask").bitwiseAND(F.lit(weekend_mask)))
            .cast("bigint")
            .alias("n_weekend_days"),
        )
        .orderBy(F.desc("n_active_days"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "users_reactivation_rate",
    oracle="""
        WITH g AS (
            SELECT user_id,
                   epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap
            FROM events
        ),
        per AS (
            SELECT user_id,
                   COUNT(CASE WHEN gap >= 2 * 86400 THEN 1 END) AS n_dormancies
            FROM g GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(CASE WHEN n_dormancies > 0 THEN 1 END) AS BIGINT)
                   AS n_reactivated,
               round(COUNT(CASE WHEN n_dormancies > 0 THEN 1 END)
                     / CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6)
                   AS reactivation_share,
               CAST(SUM(n_dormancies) AS BIGINT) AS total_dormancy_cycles
        FROM per
    """,
    tags=("growth", "reactivation", "dormancy"),
)
def users_reactivation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DORMANCY-REACTIVATION: users who went quiet for ≥ 2 days and came
    back, with the total count of such cycles (threshold sized to the
    fixtures' 30-day, high-frequency streams; production uses 7-30
    days) — the resurrection metric
    that sits between retention (never left) and churn (never returned):
    a high reactivation share means win-back outreach has a real
    audience; many cycles per user means engagement is episodic and
    weekly-cohort retention curves (events_retention_cohorts) will
    zigzag rather than decay.

    Scale: the sessionization lag window at day scale, one per-user
    count, a 4-number rollup.  An empty feed has zero users — the share
    is NULL (NULLIF on both engines), never an ANSI 0/0 (r11)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    g = load(spark, sf_dir, "events").select(
        "user_id", (ep - F.lag(ep).over(w)).alias("gap")
    )
    per = g.groupBy("user_id").agg(
        F.count(F.when(F.col("gap") >= 2 * 86400, 1)).alias("n_dormancies")
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count(F.when(F.col("n_dormancies") > 0, 1)).cast("bigint").alias(
            "n_reactivated"
        ),
        F.round(
            F.count(F.when(F.col("n_dormancies") > 0, 1))
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("reactivation_share"),
        F.sum("n_dormancies").cast("bigint").alias("total_dormancy_cycles"),
    )


def _greedy_cover_oracle() -> str:
    # Three unrolled greedy rounds; cov{k} tracks covered parts, pick{k}
    # the round winner (ties -> smallest supplier key).
    return """
        WITH sp AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        pick0 AS (
            SELECT s, COUNT(*) AS gain FROM sp GROUP BY s
            ORDER BY gain DESC, s LIMIT 1
        ),
        cov1 AS (SELECT DISTINCT p FROM sp WHERE s = (SELECT s FROM pick0)),
        pick1 AS (
            SELECT s, COUNT(*) AS gain FROM sp
            WHERE p NOT IN (SELECT p FROM cov1)
            GROUP BY s ORDER BY gain DESC, s LIMIT 1
        ),
        cov2 AS (
            SELECT p FROM cov1
            UNION
            SELECT DISTINCT p FROM sp WHERE s = (SELECT s FROM pick1)
        ),
        pick2 AS (
            SELECT s, COUNT(*) AS gain FROM sp
            WHERE p NOT IN (SELECT p FROM cov2)
            GROUP BY s ORDER BY gain DESC, s LIMIT 1
        )
        SELECT CAST(1 AS INT) AS round, CAST(s AS BIGINT) AS l_suppkey,
               CAST(gain AS BIGINT) AS parts_added
        FROM pick0
        UNION ALL
        SELECT 2, CAST(s AS BIGINT), CAST(gain AS BIGINT) FROM pick1
        UNION ALL
        SELECT 3, CAST(s AS BIGINT), CAST(gain AS BIGINT) FROM pick2
    """


@register(
    "supplier_greedy_cover",
    oracle=_greedy_cover_oracle(),
    tags=("optimization", "set_cover", "greedy"),
)
def supplier_greedy_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY SET COVER, 3 rounds: which 3 suppliers together cover the
    most distinct parts — each round picks the supplier adding the most
    UNCOVERED parts (ties → smallest key), the classic (1−1/e)-
    approximation to the NP-hard cover problem, and the consolidation
    question procurement actually asks ("fewest suppliers to keep the
    catalog shippable").  Output: each round's pick and its marginal
    part gain — the diminishing-returns curve IS the negotiation
    leverage read.

    Scale: each round is one grouped count over the (supplier, part)
    edge set with the covered set broadcast as an anti-filter; the
    per-round argmax is the bandit/BPE driver-pull pattern (a global
    decision per round is inherent to greedy)."""
    sp = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    covered = None
    rows = []
    for rnd in range(1, 4):
        cand = sp if covered is None else sp.join(covered, "p", "left_anti")
        top = (
            cand.groupBy("s")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc("s"))
            .first()
        )
        if top is None:  # all parts covered early → emit fewer rounds
            break
        rows.append((rnd, int(top["s"]), int(top["gain"])))
        newly = sp.where(F.col("s") == int(top["s"])).select("p")
        covered = newly if covered is None else covered.unionAll(newly).distinct()
    return local_frame(spark, rows, "round int, l_suppkey bigint, parts_added bigint")


def _modularity_oracle() -> str:
    # Per-node labels come from the shared _LPA_SQL chain: the registered
    # graph_label_propagation aggregates to communities, and modularity
    # needs node-level labels joined back to edges.
    return f"""
        WITH {_COORDER_EDGES_SQL},
        {_LPA_SQL},
        m AS (SELECT COUNT(*) AS m FROM oriented),
        intra AS (
            SELECT COUNT(*) AS e_in FROM oriented e
            JOIN r3 la ON la.node = e.u
            JOIN r3 lb ON lb.node = e.v
            WHERE la.label = lb.label
        ),
        deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
        comm AS (
            SELECT r3.label, SUM(deg.d) AS dc
            FROM r3 JOIN deg ON deg.node = r3.node
            GROUP BY r3.label
        ),
        expct AS (
            SELECT CAST(SUM(CAST(dc AS DECIMAL(38,0)) * dc) AS DOUBLE) AS sum_dc2
            FROM comm
        )
        SELECT CAST((SELECT COUNT(*) FROM comm) AS BIGINT) AS n_communities,
               CAST(i.e_in AS BIGINT) AS intra_edges,
               CAST(m.m AS BIGINT) AS total_edges,
               round(CASE WHEN m.m > 0
                          THEN i.e_in / CAST(m.m AS DOUBLE)
                               - x.sum_dc2 / (4.0 * m.m * m.m)
                     END, 6) AS modularity_q
        FROM intra i CROSS JOIN m CROSS JOIN expct x
    """


@register(
    "graph_modularity_lpa",
    oracle=_modularity_oracle(),
    tags=("graph", "modularity", "community", "eval"),
)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY of the label-propagation partition: Q = e_in/m −
    Σ(d_c/2m)² — the community-quality score that says whether LPA
    found real structure (Q ≳ 0.3) or just relabeled noise (Q ≈ 0 —
    the honest expectation for these random co-order baskets).  Every
    clustering deserves its eval; this is LPA's, alongside the
    dispersion/NCM/triplet trio for k-means and embeddings.

    Scale: re-runs the 3 LPA supersteps (edge-keyed shuffles), then one
    intra-edge join against labels and a per-community degree sum —
    community-cardinality arithmetic at the end."""
    oriented = _coorder_oriented_edges(spark, sf_dir)
    und, labels = _label_propagation(oriented)
    labels = labels.localCheckpoint()
    m = oriented.count()
    intra = (
        oriented.join(
            labels.select(F.col("node").alias("u"), F.col("label").alias("lu")), "u"
        )
        .join(
            labels.select(F.col("node").alias("v"), F.col("label").alias("lv")), "v"
        )
        .where(F.col("lu") == F.col("lv"))
        .count()
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    comm = labels.join(deg, "node").groupBy("label").agg(F.sum("d").alias("dc"))
    stats = comm.agg(
        F.count(F.lit(1)).alias("n_comm"),
        F.sum(F.col("dc").cast("decimal(38,0)") * F.col("dc"))
        .cast("double")
        .alias("sum_dc2"),
    )
    # m is a driver scalar: an edgeless graph (empty lineitem) has no
    # modularity to report, so q is NULL, the oracle's CASE guard
    # (4.0*m*m would otherwise divide by zero in Python;
    # tests/test_empty_inputs.py runs it on empty tables).
    q = (
        F.round(
            F.lit(intra) / F.lit(float(m)) - F.col("sum_dc2") / (4.0 * m * m), 6
        )
        if m > 0
        else F.lit(None).cast("double")
    )
    return stats.select(
        F.col("n_comm").cast("bigint").alias("n_communities"),
        F.lit(intra).cast("bigint").alias("intra_edges"),
        F.lit(m).cast("bigint").alias("total_edges"),
        q.alias("modularity_q"),
    )
