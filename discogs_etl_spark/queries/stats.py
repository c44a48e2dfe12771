"""Statistical testing / distribution analysis over the fixture tables.

The experimentation layer a production analytics engine ships next to its
aggregates: two-sample testing (Welch), independence testing (chi-square),
concentration (Gini), information content (Shannon entropy), and corpus
rank-frequency structure (Zipf slope).  Every statistic is float math made
oracle-exact by the repo's accumulation rule (registry.py): per-row/cell
contributions are computed with deterministic scalar double ops, ROUNDED
to a fixed scale, summed as DECIMAL (order-independent), and only the
final scalar arithmetic runs in doubles — identical on both engines.

Scale notes per query; none of these shuffle more than one key family,
and the only windows are partitioned by bounded groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from discogs_etl_spark.queries._util import epoch
from discogs_etl_spark.registry import register
from discogs_etl_spark.tables import load


@register(
    "stats_welch_ttest",
    oracle="""
        WITH g AS (
            SELECT
                COUNT(*) FILTER (event_type = 'purchase') AS na,
                COUNT(*) FILTER (event_type = 'click') AS nb,
                CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)))
                     FILTER (event_type = 'purchase') AS DOUBLE) AS sa,
                CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)))
                     FILTER (event_type = 'click') AS DOUBLE) AS sb,
                CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                     FILTER (event_type = 'purchase') AS DOUBLE) AS ssa,
                CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                     FILTER (event_type = 'click') AS DOUBLE) AS ssb
            FROM events WHERE event_type IN ('purchase', 'click')
        ),
        st AS (
            SELECT na, nb,
                   sa / na AS ma, sb / nb AS mb,
                   (ssa - na * (sa / na) * (sa / na)) / (na - 1) AS va,
                   (ssb - nb * (sb / nb) * (sb / nb)) / (nb - 1) AS vb
            FROM g
        )
        SELECT na, nb,
               round(ma - mb, 6) AS mean_diff,
               round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
               round(pow(va / na + vb / nb, 2)
                     / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)),
                     4) AS dof
        FROM st
    """,
    tags=("stats", "ttest", "ab_test"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S two-sample t-test (unequal variances) comparing event
    ``value`` between purchase and click events — the A/B-test primitive.
    Outputs group sizes, mean difference, the t statistic, and the
    Welch-Satterthwaite degrees of freedom.

    Exactness: sums and sums-of-squares accumulate as DECIMAL over
    6-dp-rounded terms (order-independent); means/variances/t/dof are
    scalar double arithmetic on those exact sums, identical per the
    oracle's formula order.

    Scale: ONE conditional aggregation pass over the fact table — no
    shuffle at all beyond the final single-row reduce; this is the
    cheapest possible shape for a two-group test at 100 TB."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "click"
    s6 = F.round("value", 6).cast("decimal(28,6)")
    sq6 = F.round(F.col("value") * F.col("value"), 6).cast("decimal(38,6)")
    g = ev.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.count(F.when(is_b, 1)).alias("nb"),
        F.sum(F.when(is_a, s6)).cast("double").alias("sa"),
        F.sum(F.when(is_b, s6)).cast("double").alias("sb"),
        F.sum(F.when(is_a, sq6)).cast("double").alias("ssa"),
        F.sum(F.when(is_b, sq6)).cast("double").alias("ssb"),
    )
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    va = (F.col("ssa") - F.col("na") * ma * ma) / (F.col("na") - 1)
    vb = (F.col("ssb") - F.col("nb") * mb * mb) / (F.col("nb") - 1)
    st = g.select("na", "nb", ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"))
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    return st.select(
        "na",
        "nb",
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb), 6).alias("t_stat"),
        F.round(
            F.pow(sea + seb, F.lit(2))
            / (
                F.pow(sea, F.lit(2)) / (F.col("na") - 1)
                + F.pow(seb, F.lit(2)) / (F.col("nb") - 1)
            ),
            4,
        ).alias("dof"),
    )


@register(
    "stats_chi_square_lang_source",
    oracle="""
        WITH cells AS (
            SELECT lang, source, COUNT(*) AS obs FROM documents
            GROUP BY lang, source
        ),
        rt AS (SELECT lang, SUM(obs) AS r FROM cells GROUP BY lang),
        ct AS (SELECT source, SUM(obs) AS c FROM cells GROUP BY source),
        tot AS (SELECT SUM(obs) AS n FROM cells),
        contrib AS (
            SELECT CAST(round(
                       pow(obs - (r * c / CAST(n AS DOUBLE)), 2)
                       / (r * c / CAST(n AS DOUBLE)), 9) AS DECIMAL(38,9)) AS x
            FROM cells JOIN rt USING (lang) JOIN ct USING (source)
                 CROSS JOIN tot
        )
        SELECT round(CAST(SUM(x) AS DOUBLE), 6) AS chi2,
               (SELECT CAST((COUNT(DISTINCT lang) - 1)
                            * (COUNT(DISTINCT source) - 1) AS BIGINT)
                FROM cells) AS dof,
               (SELECT CAST(n AS BIGINT) FROM tot) AS n
        FROM contrib
    """,
    tags=("stats", "chi_square", "independence"),
)
def stats_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON CHI-SQUARE independence test on the lang × source
    contingency table — "is document language independent of source?",
    the categorical counterpart of the t-test.  Outputs the statistic,
    degrees of freedom, and N.

    Exactness: observed counts and marginals are integers; each cell's
    (obs-exp)²/exp is scalar double math rounded to 9 dp and summed as
    DECIMAL, so the Σ over cells is order-free.

    Scale: cells/marginals are category-bounded aggregates (the only
    corpus-sized pass is the first groupBy); the marginal joins run over
    the tiny cell table and the 1-row total broadcasts."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = cells.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = cells.groupBy("source").agg(F.sum("obs").alias("c"))
    tot = cells.agg(F.sum("obs").alias("n"))
    dims = cells.agg(
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).alias("dof")
    )
    exp = F.col("r") * F.col("c") / F.col("n").cast("double")
    contrib = (
        cells.join(rt, "lang")
        .join(ct, "source")
        .join(F.broadcast(tot))
        .select(
            F.round(F.pow(F.col("obs") - exp, F.lit(2)) / exp, 9)
            .cast("decimal(38,9)")
            .alias("x"),
            "n",
        )
    )
    return (
        contrib.groupBy("n")
        .agg(F.round(F.sum("x").cast("double"), 6).alias("chi2"))
        .join(F.broadcast(dims))
        .select("chi2", "dof", "n")
    )


@register(
    "stats_entropy_by_source",
    oracle="""
        WITH cnt AS (
            SELECT source, lang, COUNT(*) AS c FROM documents
            GROUP BY source, lang
        ),
        tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source),
        contrib AS (
            SELECT cnt.source, tot.n,
                   CAST(round((c / CAST(n AS DOUBLE))
                              * ln(c / CAST(n AS DOUBLE)), 9)
                        AS DECIMAL(38,9)) AS x
            FROM cnt JOIN tot ON cnt.source = tot.source
        )
        SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_langs,
               round(-CAST(SUM(x) AS DOUBLE), 6) AS entropy_nats
        FROM contrib GROUP BY source
    """,
    tags=("stats", "entropy", "distribution"),
)
def stats_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHANNON ENTROPY of the language mix per source (nats): the
    diversity number a corpus-mixture dashboard reports — 0 for a
    single-language source, ln(k) for a uniform k-language mix.

    Exactness: per-(source,lang) p·ln(p) terms are scalar double math
    rounded to 9 dp, summed as DECIMAL per source.

    Scale: one corpus-sized groupBy; everything downstream is
    category-bounded.  The two aggregations share the source key, so
    Spark lines them up on one exchange."""
    docs = load(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    contrib = cnt.join(tot, "source").select(
        "source",
        "n",
        F.round(p * F.log(p), 9).cast("decimal(38,9)").alias("x"),
    )
    return contrib.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.round(-F.sum("x").cast("double"), 6).alias("entropy_nats"),
    )


@register(
    "stats_gini_revenue_by_nation",
    oracle="""
        WITH crev AS (
            SELECT c_nationkey, c_custkey,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_fp
            FROM customer JOIN orders ON c_custkey = o_custkey
            WHERE o_totalprice IS NOT NULL
            GROUP BY c_nationkey, c_custkey
        ),
        ranked AS (
            SELECT c_nationkey, rev_fp,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                      ORDER BY rev_fp, c_custkey) AS i
            FROM crev
        )
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
               round(2.0 * SUM(i * rev_fp) / (COUNT(*) * CAST(SUM(rev_fp) AS DOUBLE))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        FROM ranked GROUP BY c_nationkey
    """,
    tags=("stats", "gini", "concentration"),
)
def stats_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer revenue concentration per nation —
    the inequality measure behind "top-x% of customers drive y% of
    revenue" (the Pareto curve's scalar summary).  Computed by the
    rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    revenues.

    Exactness: revenues are fixed-point longs (cents), ranks are
    integers, so Σ(i·xᵢ) and Σx are EXACT integer sums on both engines —
    only the final two divisions are doubles.

    Scale: the rank window partitions by nation (bounded groups, ~25 at
    any SF — never a global sort), and the revenue pre-aggregation
    reduces orders to customer-sized data before the window."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # NULL prices out before ranking: a NULL rev_fp would sort NULLS
    # FIRST in Spark but NULLS LAST in DuckDB, silently shifting every
    # rank (fixtures are non-null; this is armor for generic tables)
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("fp")
    )
    crev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum("fp").alias("rev_fp"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("rev_fp", "c_custkey")
    ranked = crev.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.groupBy("c_nationkey").agg(
        n.cast("bigint").alias("n_customers"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("rev_fp"))
            / (n * F.sum("rev_fp").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@register(
    "stats_zipf_slope_by_lang",
    oracle="""
        WITH tf AS (
            SELECT lang, w, COUNT(*) AS c FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY lang, w
        ),
        ranked AS (
            SELECT lang, c,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY c DESC, w) AS rnk
            FROM tf
        ),
        xy AS (
            SELECT lang,
                   CAST(round(ln(rnk), 9) AS DECIMAL(38,9)) AS x,
                   CAST(round(ln(c), 9) AS DECIMAL(38,9)) AS y,
                   CAST(round(ln(rnk) * ln(c), 9) AS DECIMAL(38,9)) AS xy,
                   CAST(round(ln(rnk) * ln(rnk), 9) AS DECIMAL(38,9)) AS xx
            FROM ranked
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
               round((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                     / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                        - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)),
                     4) AS zipf_slope
        FROM xy GROUP BY lang
    """,
    tags=("stats", "zipf", "regression", "text"),
)
def stats_zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF SLOPE per language: ordinary-least-squares slope of
    ln(frequency) against ln(rank) over the term distribution — natural
    text sits near −1, and a corpus whose slope drifts flags synthetic
    or boilerplate-heavy text.  This is regr_slope re-derived with
    order-free accumulation (the built-in would sum raw doubles in
    partition order).

    Exactness: per-term ln contributions (x, y, xy, x²) round to 9 dp
    and sum as DECIMAL; the OLS closed form then runs on exact sums.

    Scale: term counting is the corpus-sized pass; the rank window
    partitions by language over vocabulary-sized data (term counts, not
    token occurrences)."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w"))
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    xy = tf.withColumn("rnk", F.row_number().over(w)).select(
        "lang",
        F.round(lx, 9).cast("decimal(38,9)").alias("x"),
        F.round(ly, 9).cast("decimal(38,9)").alias("y"),
        F.round(lx * ly, 9).cast("decimal(38,9)").alias("xy"),
        F.round(lx * lx, 9).cast("decimal(38,9)").alias("xx"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum("xy").cast("double")
    sxx = F.sum("xx").cast("double")
    return xy.groupBy("lang").agg(
        n.cast("bigint").alias("n_terms"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4).alias("zipf_slope"),
    )


@register(
    "stats_ewma_per_user",
    oracle="""
        WITH recent AS (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE value IS NOT NULL
        ),
        seq AS (
            SELECT user_id, list(value ORDER BY ts, event_id) AS vals
            FROM recent WHERE rn <= 20 GROUP BY user_id
        )
        SELECT user_id, CAST(len(vals) AS INT) AS n_recent,
               list_reduce(list_concat([round(vals[1], 6)], vals[2:]),
                           (acc, x) -> round(x * 0.2 + acc * 0.8, 6))
                   AS ewma_value
        FROM seq
    """,
    tags=("stats", "ewma", "timeseries"),
)
def stats_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY-WEIGHTED moving average of each user's last 20 event
    values (α=0.2) — the standard time-series smoother for "current
    level" features (recency-weighted spend, engagement score).  EWMA is
    inherently sequential (sₜ = αxₜ + (1-α)sₜ₋₁), which SQL aggregates
    can't express — so the recurrence runs as a LEFT-TO-RIGHT array fold
    over the per-user ordered tail, rounding each step to 6 dp so both
    engines walk identical doubles (Spark ``aggregate`` ≡ DuckDB
    ``list_reduce``).

    Scale: the rn <= 20 window prunes per-user state to a BOUNDED tail
    before collect_list (never the full history — the window's
    WindowGroupLimit keeps 20 rows per user per partition), and the fold
    is row-local.  One user-keyed shuffle total."""
    # drop NULL values BEFORE collecting: Spark collect_list skips
    # NULLs while DuckDB list() keeps them — on a generic table the two
    # folds would walk different sequences (fixtures are non-null)
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 20)
    seq = recent.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s.value,
        ).alias("vals")
    )
    ewma = F.aggregate(
        F.slice("vals", 2, F.size("vals") - 1),
        F.round(F.element_at("vals", 1), 6),
        lambda acc, x: F.round(x * F.lit(0.2) + acc * F.lit(0.8), 6),
    )
    return seq.select(
        "user_id", F.size("vals").alias("n_recent"), ewma.alias("ewma_value")
    )


@register(
    "stats_mad_by_event_type",
    oracle="""
        WITH med AS (
            SELECT event_type, COUNT(*) AS n,
                   median(value) AS med
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, MAX(m.n) AS n,
               round(MAX(m.med), 6) AS median_value,
               round(median(abs(e.value - m.med)), 6) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    """,
    tags=("stats", "mad", "robust"),
)
def stats_mad_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN ABSOLUTE DEVIATION per event type — the robust spread
    measure behind outlier fences that survive heavy tails where stddev
    blows up (the robust twin of events_anomaly_zscore).  Two exact
    median passes: the group median, then the median of absolute
    deviations from it.

    Exactness: exact interpolated percentile (Spark ``percentile`` ≡
    DuckDB ``median``: both average the two middle values at even n over
    identically-sorted doubles); no order-dependent float sums anywhere.

    Scale: exact medians need the group's values at one reducer — the
    documented cost of EXACT rank statistics (both engines pay it);
    event_type cardinality is bounded (5), and each group's values
    stream through a sort, not memory.  approx_percentile is the 100 TB
    fallback when exactness is negotiable (agg_approx_distinct's note)."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("value", F.lit(0.5)).alias("med"),
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 6
            ).alias("mad"),
        )
    )


@register(
    "stats_seasonal_adjust_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
            FROM events GROUP BY 1
        ),
        dowavg AS (
            SELECT dayofweek(day) + 1 AS dw,
                   CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS dow_mean
            FROM daily GROUP BY 1
        )
        SELECT day, n_events, round(dow_mean, 4) AS dow_mean,
               round(n_events - dow_mean, 4) AS seasonal_adj
        FROM daily JOIN dowavg ON dayofweek(day) + 1 = dw
    """,
    tags=("stats", "seasonal", "timeseries"),
)
def stats_seasonal_adjust_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKDAY-SEASONALITY adjustment of the daily event count: subtract
    each day-of-week's mean from the raw daily count — the first step of
    classical seasonal decomposition, and the transform that stops a
    Monday peak from tripping the anomaly detector
    (events_anomaly_zscore's complement).

    Day-of-week parity is pinned: Spark dayofweek() is 1=Sunday, DuckDB
    dayofweek() is 0=Sunday — the oracle shifts by one so both engines
    group identical buckets.  Means are exact integer-sum divisions.

    Scale: the corpus-sized pass is the daily count; everything after
    runs on ~days rows with a broadcast 7-row seasonal profile."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    dowavg = (
        daily.select(F.dayofweek("day").alias("dw"), "n_events")
        .groupBy("dw")
        .agg((F.sum("n_events").cast("double") / F.count(F.lit(1))).alias("dow_mean"))
    )
    return (
        daily.withColumn("dw", F.dayofweek("day"))
        .join(F.broadcast(dowavg), "dw")
        .select(
            "day",
            "n_events",
            F.round("dow_mean", 4).alias("dow_mean"),
            F.round(F.col("n_events") - F.col("dow_mean"), 4).alias("seasonal_adj"),
        )
    )


_WILSON_Z = 1.96


@register(
    "stats_wilson_ci_daily",
    oracle=f"""
        WITH g AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
                   COUNT(*) FILTER (event_type = 'purchase') AS k
            FROM events GROUP BY 1
        )
        SELECT day, n, k,
               round(k / CAST(n AS DOUBLE), 6) AS rate,
               round((k/CAST(n AS DOUBLE) + ({_WILSON_Z}*{_WILSON_Z}/n)/2)
                     / (1 + {_WILSON_Z}*{_WILSON_Z}/n)
                     - ({_WILSON_Z}*sqrt((k/CAST(n AS DOUBLE))
                                         * (1-k/CAST(n AS DOUBLE))/n
                            + ({_WILSON_Z}*{_WILSON_Z}/n)/(4*n))
                        / (1 + {_WILSON_Z}*{_WILSON_Z}/n)), 6) AS wilson_lo,
               round((k/CAST(n AS DOUBLE) + ({_WILSON_Z}*{_WILSON_Z}/n)/2)
                     / (1 + {_WILSON_Z}*{_WILSON_Z}/n)
                     + ({_WILSON_Z}*sqrt((k/CAST(n AS DOUBLE))
                                         * (1-k/CAST(n AS DOUBLE))/n
                            + ({_WILSON_Z}*{_WILSON_Z}/n)/(4*n))
                        / (1 + {_WILSON_Z}*{_WILSON_Z}/n)), 6) AS wilson_hi
        FROM g
    """,
    tags=("stats", "confidence_interval", "rate"),
)
def stats_wilson_ci_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY CONVERSION RATE with a WILSON 95% confidence interval — the
    interval that stays honest at small n and extreme rates where the
    naive normal approximation (p ± z√(p(1-p)/n)) escapes [0, 1]; this
    is the number an experiment dashboard should put error bars on.

    Exactness: n and k are integer counts from one conditional
    aggregation; the Wilson center/margin is scalar double arithmetic in
    the same operation order on both engines, rounded to 6 dp.

    Scale: one pass over events, day-keyed; output is days-sized."""
    z = _WILSON_Z
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
    )
    p = F.col("k") / F.col("n").cast("double")
    z2n = F.lit(z * z) / F.col("n")
    center = (p + z2n / 2) / (1 + z2n)
    margin = F.lit(z) * F.sqrt(p * (1 - p) / F.col("n") + z2n / (4 * F.col("n"))) / (
        1 + z2n
    )
    return g.select(
        "day",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round(center - margin, 6).alias("wilson_lo"),
        F.round(center + margin, 6).alias("wilson_hi"),
    )


@register(
    "stats_trend_slope_per_user",
    oracle="""
        WITH fs AS (
            SELECT user_id, MIN(ts) AS t0, COUNT(*) AS cnt FROM events
            GROUP BY user_id HAVING COUNT(*) >= 3
        ),
        xy AS (
            SELECT e.user_id,
                   CAST(round((epoch(e.ts) - epoch(f.t0)) / 3600.0, 9)
                        AS DECIMAL(38,9)) AS x,
                   CAST(round(e.value, 9) AS DECIMAL(38,9)) AS y,
                   CAST(round((epoch(e.ts) - epoch(f.t0)) / 3600.0 * e.value, 9)
                        AS DECIMAL(38,9)) AS xy,
                   CAST(round((epoch(e.ts) - epoch(f.t0)) / 3600.0
                              * ((epoch(e.ts) - epoch(f.t0)) / 3600.0), 9)
                        AS DECIMAL(38,9)) AS xx
            FROM events e JOIN fs f USING (user_id)
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               round((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                     / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                        - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)),
                     6) AS trend_slope
        FROM xy GROUP BY user_id
    """,
    tags=("stats", "regression", "trend"),
)
def stats_trend_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-USER TREND: OLS slope of event value against hours since the
    user's first event (users with >= 3 events) — "is this account's
    engagement rising or falling", the grouped-regression surface
    (regr_slope per group) with order-free accumulation.

    The x axis is CENTERED per user (hours since first event, not raw
    epoch): raw epoch seconds (~1.7e9) square to 3e18 per row and the
    OLS denominator n·Σx² − (Σx)² cancels catastrophically; centering
    keeps both terms small and the 9-dp rounding meaningful — the
    numerically-sane form of the closed-form OLS on BOTH engines.

    Scale: one user-keyed pre-aggregate (first ts + count gate), joined
    back on the same key (lined-up exchange), then one grouped sum of
    decimal contributions."""
    from discogs_etl_spark.queries._util import epoch

    ev = load(spark, sf_dir, "events")
    fs = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 3)
    )
    x = (epoch("ts") - epoch("t0")) / 3600.0
    xy = ev.join(fs, "user_id").select(
        "user_id",
        F.round(x, 9).cast("decimal(38,9)").alias("x"),
        F.round(F.col("value"), 9).cast("decimal(38,9)").alias("y"),
        F.round(x * F.col("value"), 9).cast("decimal(38,9)").alias("xy"),
        F.round(x * x, 9).cast("decimal(38,9)").alias("xx"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum("xy").cast("double")
    sxx = F.sum("xx").cast("double")
    return xy.groupBy("user_id").agg(
        n.cast("bigint").alias("n_events"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("trend_slope"),
    )


@register(
    "data_quality_report",
    oracle="""
        WITH agg AS (
            SELECT COUNT(*) AS n_rows,
                   SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
                   COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v1,
                   SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 1000000
                       THEN 1 ELSE 0 END) AS v2,
                   SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS v3,
                   SUM(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                       THEN 1 ELSE 0 END) AS v4
            FROM orders
        )
        SELECT u.check_name, a.n_rows, CAST(u.v AS BIGINT) AS n_violations,
               CAST(u.v = 0 AS INT) AS passed
        FROM agg a, LATERAL (VALUES
            ('not_null(o_orderkey)', v0),
            ('unique(o_orderkey)', v1),
            ('range(o_totalprice,0,1000000)', v2),
            ('in_set(o_orderstatus)', v3),
            ('before(o_orderdate,1999-01-01)', v4)) AS u(check_name, v)
    """,
    tags=("quality", "validation", "constraints"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY CONSTRAINT REPORT (Deequ-style) over orders: five
    declarative checks — key non-null, key uniqueness (SQL UNIQUE
    semantics: NULLs permitted, not duplicates), price range,
    status domain, date sanity — evaluated in ONE wide aggregation, one
    row per check with violation counts and a pass flag.  (The date
    check legitimately FAILS on the fixtures — 40% of orders post-date
    the cutoff — so the report demonstrably reports, not rubber-stamps.)

    The machinery is curation.validate_table, which binds the same
    single-scan rules engine to ANY table via
    `python -m discogs_etl_spark validate`.

    Scale: adding a rule adds an aggregate expression, never a data
    pass; uniqueness is the one expand-planned term (COUNT DISTINCT),
    and everything else is a map-side conditional sum."""
    from discogs_etl_spark.curation import validate_table

    return validate_table(
        spark,
        load(spark, sf_dir, "orders"),
        [
            "not_null:o_orderkey",
            "unique:o_orderkey",
            "range:o_totalprice:0:1000000",
            "in_set:o_orderstatus:O|F|P",
            "before:o_orderdate:1999-01-01",
        ],
    )


@register(
    "stats_benford_first_digit",
    oracle="""
        WITH g AS (
            SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                    AS VARCHAR), 1, 1) AS INT) AS digit,
                   COUNT(*) AS observed
            FROM orders WHERE o_totalprice > 0 GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM g)
        SELECT digit, observed,
               round(observed / CAST(n AS DOUBLE), 6) AS observed_p,
               round(log10(1.0 + 1.0/digit), 6) AS benford_p
        FROM g CROSS JOIN tot
    """,
    tags=("stats", "benford", "fraud"),
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit profile of order values: observed digit
    shares next to the log10(1 + 1/d) expectation — the classic
    anomaly/fraud screen (fabricated amounts drift from Benford; TPC-H's
    uniform-ish synthetic prices visibly do too, which is the point: the
    test DETECTS non-natural distributions).

    First digit extracted from the DECIMAL(18,2) string rendering —
    pinned identical across engines (double-to-string formatting is
    not).  One grouped count, a broadcast 1-row total, 9 output rows."""
    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    g = (
        o.where(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    tot = g.agg(F.sum("observed").alias("n"))
    return (
        g.join(F.broadcast(tot))
        .select(
            "digit",
            "observed",
            F.round(F.col("observed") / F.col("n").cast("double"), 6).alias(
                "observed_p"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
        WITH dau AS (
            SELECT day, COUNT(*) AS dau FROM (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
            ) GROUP BY day
        ),
        wau AS (
            SELECT week, COUNT(*) AS wau FROM (
                SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
                       user_id
                FROM events
            ) GROUP BY week
        )
        SELECT day, dau, wau, round(dau / CAST(wau AS DOUBLE), 6) AS stickiness
        FROM dau JOIN wau ON CAST(date_trunc('week', day) AS DATE) = week
    """,
    tags=("agg", "stickiness", "bi"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU STICKINESS: each day's distinct actives over its calendar
    week's distinct actives — the engagement-frequency ratio product
    dashboards track (1/7 = everyone shows once a week; 1.0 = everyone
    daily).

    Scale: two distinct-then-count aggregations (day- and week-keyed)
    over user-sized intermediates; the weekly table broadcasts into the
    daily one."""
    ev = load(spark, sf_dir, "events")
    dau = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    wau = (
        ev.select(F.date_trunc("week", "ts").cast("date").alias("week"), "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.withColumn("week", F.date_trunc("week", "day").cast("date"))
        .join(wau, "week")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "orders_interpurchase_gap",
    oracle="""
        WITH gaps AS (
            SELECT datediff('day', LAG(o_orderdate) OVER w, o_orderdate)
                       AS gap_days
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
               round(quantile_cont(gap_days, 0.5), 4) AS median_gap_days,
               round(quantile_cont(gap_days, 0.9), 4) AS p90_gap_days
        FROM gaps WHERE gap_days IS NOT NULL
    """,
    tags=("window", "percentile", "bi"),
)
def orders_interpurchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-PURCHASE interval distribution: median and p90 of the gap in
    days between a customer's consecutive orders — the number behind
    replenishment-cycle and churn-risk models ("silent for 3x the median
    gap").

    Scale: one customer-keyed lag window produces the gaps; the exact
    percentiles reduce to a single row (the documented exact-rank cost;
    approx_percentile is the at-scale fallback)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.datediff("o_orderdate", "prev").alias("gap_days"))
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 4).alias("median_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.9)), 4).alias("p90_gap_days"),
    )


@register(
    "stats_hhi_supplier_concentration",
    oracle="""
        WITH rev AS (
            SELECT p_type, l_suppkey,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_fp
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_type, l_suppkey
        ),
        tot AS (
            SELECT p_type, CAST(SUM(rev_fp) AS BIGINT) AS tot_fp,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers
            FROM rev GROUP BY p_type
        )
        SELECT r.p_type, MAX(n_suppliers) AS n_suppliers,
               round(CAST(SUM(CAST(round((rev_fp/CAST(tot_fp AS DOUBLE))
                                          *(rev_fp/CAST(tot_fp AS DOUBLE)), 9)
                                   AS DECIMAL(38,9))) AS DOUBLE) * 10000, 4)
                   AS hhi
        FROM rev r JOIN tot t ON r.p_type = t.p_type
        GROUP BY r.p_type
    """,
    tags=("stats", "hhi", "concentration"),
)
def stats_hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN INDEX of supplier concentration per part
    type: Σ(market share²)·10000 — the antitrust-grade concentration
    measure (10000 = monopoly, →0 = atomized), the squared-share
    companion of the Gini coefficient already in the family.  Revenue
    shares come from exact fixed-point cents; squared shares round to
    9 dp and sum as DECIMAL so the per-type reduce is order-free.

    Scale: one fact-sized grouped sum (broadcast part dimension), then
    everything is (type × supplier)-sized; both aggregations share the
    p_type key."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev_fp"))
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("rev_fp").alias("tot_fp"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("rev_fp").cast("double") / F.col("tot_fp")
    return (
        rev.join(tot, "p_type")
        .select(
            "p_type",
            "n_suppliers",
            F.round(share * share, 9).cast("decimal(38,9)").alias("c"),
        )
        .groupBy("p_type")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            F.round(F.sum("c").cast("double") * 10000, 4).alias("hhi"),
        )
    )


_RI_CHECKS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

_RI_ORACLE = "\n        UNION ALL ".join(
    f"""SELECT '{name}' AS fk_relation,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (d.{pk} IS NULL) AS BIGINT) AS n_orphans,
               CAST(COUNT(*) FILTER (d.{pk} IS NULL) = 0 AS INT) AS passed
        FROM {fact} f LEFT JOIN (SELECT DISTINCT {pk} FROM {dim}) d
             ON f.{fk} = d.{pk}"""
    for name, fact, fk, dim, pk in _RI_CHECKS
)


@register(
    "data_quality_referential",
    oracle=_RI_ORACLE,
    tags=("quality", "referential", "constraints"),
)
def data_quality_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY report across the whole star schema: every
    foreign-key relation checked for orphans (fact keys with no match in
    the dimension) — the cross-table half of the data-quality gate that
    data_quality_report's single-table rules can't express.  One row per
    relation with row/orphan counts and a pass flag.

    Scale: each relation is one LEFT ANTI-shaped probe (expressed as a
    left join + null count so row totals come along for free); dimension
    key sets deduplicate before the join and broadcast when small.  The
    seven probes are independent — Spark schedules them as parallel
    stages under the final union."""
    out = None
    for name, fact, fk, dim, pk in _RI_CHECKS:
        f = load(spark, sf_dir, fact).select(F.col(fk).alias("k"))
        d = load(spark, sf_dir, dim).select(F.col(pk).alias("k")).distinct()
        j = f.join(d.withColumn("__hit", F.lit(1)), "k", "left")
        row = j.agg(
            F.lit(name).alias("fk_relation"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(F.col("__hit").isNull(), 1)).cast("bigint").alias(
                "n_orphans"
            ),
            (F.count(F.when(F.col("__hit").isNull(), 1)) == 0)
            .cast("int")
            .alias("passed"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "orders_cohort_ltv",
    oracle="""
        WITH f AS (
            SELECT o_custkey,
                   CAST(date_trunc('month',
                        MIN(o_orderdate) OVER (PARTITION BY o_custkey)) AS DATE)
                       AS cohort_month,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
                   o_totalprice
            FROM orders
        )
        SELECT cohort_month,
               CAST(date_diff('month', cohort_month, order_month) AS BIGINT)
                   AS month_no,
               COUNT(DISTINCT o_custkey) AS n_customers,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM f
        GROUP BY cohort_month, date_diff('month', cohort_month, order_month)
    """,
    tags=("agg", "cohort", "ltv", "revenue"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue and active-customer counts accumulated per months-
    since-acquisition — the revenue twin of events_retention_cohorts'
    user-count triangle (cumulating month_no rows per cohort gives the
    LTV curve finance actually plots).

    Scale: the per-customer first-order MIN is a customer-partitioned
    window over the orders shuffle, and the final (cohort, month_no)
    aggregate is a second small-key shuffle with map-side partials;
    both keys are bounded (customers; months²/2 cells).  Revenue sums
    as DECIMAL cents (order-independent), month arithmetic runs on
    month-truncated DATEs so both engines count calendar months."""
    w = Window.partitionBy("o_custkey")
    f = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .withColumn(
            "cohort_month",
            F.date_trunc("month", F.min("o_orderdate").over(w)).cast("date"),
        )
        .withColumn("order_month", F.date_trunc("month", "o_orderdate").cast("date"))
    )
    return (
        f.groupBy(
            "cohort_month",
            F.months_between("order_month", "cohort_month")
            .cast("bigint")
            .alias("month_no"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev): total order price per order date, summed as
    DECIMAL(18,2) and cast to double, the day-bounded series the
    time-series queries read.  The rollup is the only data-sized
    shuffle; what reads it is calendar-sized."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )


@register(
    "stats_cusum_daily_revenue",
    oracle="""
        WITH d AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        m AS (
            SELECT CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu
            FROM d
        ),
        c AS (
            SELECT day, rev,
                   round(rev - mu, 4) AS dev,
                   CAST(SUM(CAST(round(rev - mu, 4) AS DECIMAL(28,4)))
                            OVER (ORDER BY day) AS DOUBLE) AS cusum
            FROM d CROSS JOIN m
        )
        SELECT day, rev, dev, cusum,
               CAST(abs(cusum) = (SELECT MAX(abs(cusum)) FROM c) AS INT)
                   AS is_changepoint
        FROM c
    """,
    tags=("stats", "timeseries", "changepoint"),
)
def stats_cusum_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen over daily revenue: cumulative sum of
    deviations from the global mean, with the max-|CUSUM| day flagged —
    the classical level-shift detector (the flagged day is where the
    series' mean most plausibly changed).

    Scale: the daily rollup is the only data-sized shuffle; the running
    sum is a single global window over ONE ROW PER DAY (bounded by the
    calendar, not the data), and the mean/max ride along as 1-row
    broadcast joins.  Determinism: revenue and deviations accumulate as
    DECIMAL (order-free); mean/max/equality all evaluate on identical
    doubles in both engines."""
    d = _daily_revenue(spark, sf_dir)
    m = d.agg(
        (
            F.sum(F.col("rev").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = (
        d.crossJoin(F.broadcast(m))
        .withColumn("dev", F.round(F.col("rev") - F.col("mu"), 4))
        .withColumn(
            "cusum",
            F.sum(F.col("dev").cast("decimal(28,4)")).over(w).cast("double"),
        )
        .select("day", "rev", "dev", "cusum")
    )
    mx = c.agg(F.max(F.abs("cusum")).alias("mx"))
    return c.crossJoin(F.broadcast(mx)).select(
        "day",
        "rev",
        "dev",
        "cusum",
        (F.abs("cusum") == F.col("mx")).cast("int").alias("is_changepoint"),
    )


_SKEW_KEYS = (
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
)


@register(
    "skew_report_join_keys",
    oracle="""
        WITH per AS (
            SELECT 'lineitem.l_partkey' AS join_key, l_partkey AS k FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
            UNION ALL
            SELECT 'orders.o_custkey', o_custkey FROM orders
            UNION ALL
            SELECT 'events.user_id', user_id FROM events
        ),
        kc AS (
            SELECT join_key, k, COUNT(*) AS c FROM per GROUP BY join_key, k
        )
        SELECT join_key,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_key_rows,
               round(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 6) AS skew_ratio
        FROM kc GROUP BY join_key
    """,
    tags=("diagnostics", "skew", "ops"),
)
def skew_report_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: for each hot join key in the schema, the key
    cardinality, the heaviest key's row count, and the skew ratio
    max/avg — the diagnostic that decides between a plain shuffle join,
    AQE skew splitting, and explicit salting (join_skew_salted /
    agg_salted_skew_safe are this report's remediations).

    Scale: one count per (relation, key) with map-side partials, then a
    4-row rollup; each relation scans only its key column (pruned)."""
    out = None
    for label, table, key in _SKEW_KEYS:
        kc = (
            load(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        row = kc.agg(
            F.lit(label).alias("join_key"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").cast("bigint").alias("max_key_rows"),
            F.round(
                F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c"), 6
            ).alias("skew_ratio"),
        )
        out = row if out is None else out.unionAll(row)
    return out


_CMS_SEEDS = 4
_CMS_WIDTH = 256


@register(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
        WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
        hashed AS (
            SELECT key, s.seed,
                   ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || key), 1, 8))
                       ::BIGINT % {_CMS_WIDTH} AS bkt
            FROM k, (SELECT unnest(range({_CMS_SEEDS})) AS seed) s
        ),
        sketch AS (
            SELECT seed, bkt, COUNT(*) AS c FROM hashed GROUP BY seed, bkt
        ),
        exact AS (
            SELECT key, COUNT(*) AS exact_cnt FROM k GROUP BY key
            ORDER BY exact_cnt DESC, key LIMIT 20
        ),
        est AS (
            SELECT e.key, MIN(s.c) AS cm_estimate
            FROM exact e,
                 (SELECT unnest(range({_CMS_SEEDS})) AS seed) sd
            JOIN sketch s
              ON s.seed = sd.seed
             AND s.bkt = ('0x' || substr(md5(CAST(sd.seed AS VARCHAR) || ':' || e.key), 1, 8))
                             ::BIGINT % {_CMS_WIDTH}
            GROUP BY e.key
        )
        SELECT e.key AS user_key, e.exact_cnt,
               CAST(est.cm_estimate AS BIGINT) AS cm_estimate,
               CAST(est.cm_estimate - e.exact_cnt AS BIGINT) AS overestimate
        FROM exact e JOIN est USING (key)
    """,
    tags=("sketch", "countmin", "heavy_hitters"),
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode–Muthukrishnan) heavy-hitter estimation,
    checked against exact counts: a {_CMS_SEEDS}x{_CMS_WIDTH} sketch of
    event counts per user, then the top-20 users' CM estimates
    (min over rows) next to their true counts — the overestimate column
    is the sketch's one-sided error, never negative by construction.

    The sketch hash is md5-prefix based so Spark and DuckDB build the
    BIT-IDENTICAL sketch (the repo's cross-engine hash idiom); built-in
    engine hashes (xxhash64 etc.) would diverge.

    Scale: this is why sketches exist — the sketch is a FIXED
    {_CMS_SEEDS}*{_CMS_WIDTH}-cell table regardless of key cardinality
    (vs the exact count's key-sized shuffle), built in one map-side-
    partial aggregation over seed-exploded rows; estimation touches only
    the candidate set x seeds against the broadcast sketch."""
    k = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_SEEDS)])
    ).alias("seed")
    bkt = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("seed"), F.col("key"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _CMS_WIDTH
    )
    hashed = k.select("key", seeds).withColumn("bkt", bkt)
    sketch = hashed.groupBy("seed", "bkt").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        k.groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("key"))
        .limit(20)
    )
    est = (
        exact.select("key", seeds)
        .withColumn("bkt", bkt)
        .join(F.broadcast(sketch), ["seed", "bkt"])
        .groupBy("key")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return exact.join(est, "key").select(
        F.col("key").alias("user_key"),
        "exact_cnt",
        F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
        (F.col("cm_estimate") - F.col("exact_cnt")).cast("bigint").alias("overestimate"),
    )


@register(
    "stats_acf_daily_revenue",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        d AS (SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
        l AS (SELECT unnest(range(1, 8)) AS lag),
        p AS (
            SELECT l.lag, a.rev AS x, b.rev AS y
            FROM d a CROSS JOIN l
            JOIN d b ON b.rn = a.rn - l.lag
        ),
        s AS (
            SELECT lag, COUNT(*) AS n,
                   CAST(SUM(CAST(round(x, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(round(y, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(x * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(round(y * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
            FROM p GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
                   AS acf
        FROM s
    """,
    tags=("stats", "timeseries", "autocorrelation"),
)
def stats_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1-7: the
    weekly-seasonality detector (a spike at lag 7 is the signature
    stats_seasonal_adjust_daily then removes).  Lagged pairs come from an
    equi-join of the day-indexed series with itself shifted by each lag —
    LAG() can't take a variable offset, the rn-arithmetic join can.

    Scale: the series is calendar-bounded (one row per day) after the
    only data-sized shuffle (the daily rollup); the 7-way lag fan-out and
    Pearson accumulations are all over that tiny series.  Sums accumulate
    as rounded DECIMAL so both engines' correlation doubles agree
    bit-for-bit."""
    daily = _daily_revenue(spark, sf_dir)
    d = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = d.crossJoin(F.broadcast(lags))
    b = d.select(F.col("rn").alias("rn_b"), F.col("rev").alias("y"))
    p = a.join(b, a["rn"] - a["lag"] == b["rn_b"]).select(
        "lag", F.col("rev").alias("x"), "y"
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("x", 2).cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.round("y", 2).cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
    )
    acf = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    )


@register(
    "stats_survival_km_repurchase",
    oracle="""
        WITH o AS (
            SELECT DISTINCT o_custkey AS c,
                   CAST(date_trunc('day', o_orderdate) AS DATE) AS d
            FROM orders
        ),
        mx AS (SELECT MAX(d) AS mxd FROM o),
        seq AS (
            SELECT c, d, LEAD(d) OVER (PARTITION BY c ORDER BY d) AS nd FROM o
        ),
        obs AS (
            SELECT CASE WHEN nd IS NULL THEN date_diff('day', d, mxd)
                        ELSE date_diff('day', d, nd) END AS t,
                   CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
            FROM seq CROSS JOIN mx
        ),
        n AS (SELECT COUNT(*) AS n_total FROM obs),
        allt AS (SELECT t, COUNT(*) AS n_at FROM obs GROUP BY t),
        cum AS (
            SELECT t, SUM(n_at) OVER (ORDER BY t) - n_at AS n_before FROM allt
        ),
        ev AS (SELECT t, COUNT(*) AS d_i FROM obs WHERE ev = 1 GROUP BY t),
        km AS (
            SELECT e.t, e.d_i,
                   n.n_total - c.n_before AS n_i,
                   round(ln(1 - e.d_i / CAST(n.n_total - c.n_before AS DOUBLE)), 8)
                       AS lnterm
            FROM ev e JOIN cum c ON e.t = c.t CROSS JOIN n
            WHERE e.d_i < n.n_total - c.n_before
        )
        SELECT CAST(t AS BIGINT) AS t_days,
               CAST(n_i AS BIGINT) AS n_risk,
               CAST(d_i AS BIGINT) AS n_events,
               round(exp(CAST(SUM(CAST(lnterm AS DECIMAL(28,8)))
                                  OVER (ORDER BY t) AS DOUBLE)), 6) AS survival
        FROM km
    """,
    tags=("stats", "survival", "kaplan_meier"),
)
def stats_survival_km_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-NEXT-purchase: every
    order-day opens an observation that either ends at the customer's
    next order-day (event) or is right-CENSORED at the dataset's end —
    the estimator that makes "median repurchase cycle" honest when many
    customers haven't repurchased yet (orders_interpurchase_gap's naive
    percentiles silently drop exactly those).  S(t) = Π(1 − dᵢ/nᵢ) over
    event times; the degenerate terminal point (risk set exhausted,
    S = 0) is excluded.

    Scale: risk sets come from ONE cumulative count over the day-bounded
    gap distribution (never the correlated n-per-t subquery, which is
    O(T·N)); the product telescopes as exp of a DECIMAL running sum of
    rounded ln terms, so the curve is order-exact in both engines."""
    o = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c"),
            F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
        )
        .distinct()
    )
    mx = o.agg(F.max("d").alias("mxd"))
    seq = o.withColumn(
        "nd", F.lead("d").over(Window.partitionBy("c").orderBy("d"))
    )
    obs = seq.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("nd").isNull(), F.datediff("mxd", "d"))
        .otherwise(F.datediff("nd", "d"))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )
    n_total = obs.count()
    allt = obs.groupBy("t").agg(F.count(F.lit(1)).alias("n_at"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = allt.select(
        "t", (F.sum("n_at").over(wcum) - F.col("n_at")).alias("n_before")
    )
    ev = obs.where(F.col("ev") == 1).groupBy("t").agg(F.count(F.lit(1)).alias("d_i"))
    km = (
        ev.join(cum, "t")
        .select(
            "t",
            "d_i",
            (F.lit(n_total) - F.col("n_before")).alias("n_i"),
        )
        .where(F.col("d_i") < F.col("n_i"))
        .withColumn(
            "lnterm",
            F.round(F.log(F.lit(1.0) - F.col("d_i") / F.col("n_i").cast("double")), 8),
        )
    )
    return km.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_i").cast("bigint").alias("n_risk"),
        F.col("d_i").cast("bigint").alias("n_events"),
        F.round(
            F.exp(
                F.sum(F.col("lnterm").cast("decimal(28,8)"))
                .over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .cast("double")
            ),
            6,
        ).alias("survival"),
    )


@register(
    "stats_two_proportion_ztest",
    oracle="""
        WITH t AS (
            SELECT user_id,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
                       AS arm,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6)))
                            FILTER (event_type = 'purchase') AS DOUBLE) AS spend
            FROM events GROUP BY user_id
        ),
        med AS (SELECT quantile_disc(spend, 0.5) AS m FROM t),
        u AS (
            SELECT user_id, arm,
                   CASE WHEN spend > m THEN 1 ELSE 0 END AS converted
            FROM t CROSS JOIN med
        ),
        s AS (
            SELECT COUNT(*) FILTER (arm = 0) AS n_a,
                   SUM(converted) FILTER (arm = 0) AS conv_a,
                   COUNT(*) FILTER (arm = 1) AS n_b,
                   SUM(converted) FILTER (arm = 1) AS conv_b
            FROM u
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
               CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
               round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                     / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1.0 / n_a + 1.0 / n_b)), 4) AS z_stat,
               CAST(abs((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                     / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                            * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS INT)
                   AS significant_95
        FROM s
    """,
    tags=("stats", "experiment", "ab_test"),
)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic 50/50 user split: the A/B
    readout for a binary metric (is the user an above-median purchaser? —
    a median-split so the rate is interior by construction; the fixtures
    give every user every event type, so mere presence is degenerate),
    completing the experimentation family next to Welch's t (continuous
    metrics) and the Wilson CI (single rates).  Arms come from the
    content-keyed hash idiom — reproducible assignment, no rand().

    Scale: one user-grouped spend aggregate (DECIMAL, order-free), a
    1-row median broadcast, one 4-number conditional aggregate, scalar
    math on the driver row; nothing after the first shuffle is
    data-sized."""
    t = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round("value", 6).cast("decimal(28,6)"),
                )
            )
            .cast("double")
            .alias("spend")
        )
        .withColumn(
            "arm",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2,
        )
    )
    med = t.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY spend)").alias("m")
    )
    u = t.crossJoin(F.broadcast(med)).select(
        "user_id",
        "arm",
        F.when(F.col("spend") > F.col("m"), 1).otherwise(0).alias("converted"),
    )
    s = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted"))).alias("conv_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted"))).alias("conv_b"),
    )
    pa = F.col("conv_a") / F.col("n_a").cast("double")
    pb = F.col("conv_b") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return s.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("significant_95"),
    )


@register(
    "timeseries_locf_fill",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        cal AS (
            SELECT CAST(d AS DATE) AS day
            FROM (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
                 unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g(d)
        )
        SELECT c.day,
               LAST_VALUE(d.rev IGNORE NULLS)
                   OVER (ORDER BY c.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS rev_filled,
               CAST(d.rev IS NULL AS INT) AS is_filled
        FROM cal c LEFT JOIN daily d ON c.day = d.day
    """,
    tags=("stats", "timeseries", "gap_fill", "locf"),
)
def timeseries_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with last-observation-carried-forward: a dense
    day spine generated from the series' own bounds, left-joined to the
    observed daily revenue, with missing days inheriting the previous
    value (IGNORE NULLS running last) and flagged — the regularization
    step every downstream window/ACF/EWMA assumes (their row-offset
    semantics silently skew on gappy series).

    Scale: the spine is calendar-bounded (generated, not shuffled), the
    join is day-keyed against the already-reduced daily rollup, and the
    LOCF window orders the day-bounded spine — none of it data-sized.
    First-day-missing would stay NULL; the spine starts at the first
    OBSERVED day, so the first row is always real (never silent NULL)."""
    daily = _daily_revenue(spark, sf_dir)
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        cal.join(daily, "day", "left")
        .select(
            "day",
            F.last("rev", ignorenulls=True).over(w).alias("rev_filled"),
            F.col("rev").isNull().cast("int").alias("is_filled"),
        )
    )


@register(
    "events_value_winsorize",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               COUNT(*) AS n,
               COUNT(*) FILTER (e.value < b.lo) AS n_clipped_lo,
               COUNT(*) FILTER (e.value > b.hi) AS n_clipped_hi,
               round(b.lo, 6) AS p01,
               round(b.hi, 6) AS p99,
               round(CAST(SUM(CAST(round(least(greatest(e.value, b.lo), b.hi), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_winsorized
        FROM events e JOIN b USING (event_type)
        GROUP BY e.event_type, b.lo, b.hi
    """,
    tags=("stats", "winsorize", "robust"),
)
def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZATION: clip each event type's values to its own exact
    [p01, p99] band and report the clipped-tail counts and winsorized
    mean — the robust-mean preprocessing that tames heavy tails without
    dropping rows (vs trimming), feeding anomaly baselines and
    stats_welch_ttest-style comparisons.

    Scale: the classic TWO-PASS shape — pass 1 computes per-group exact
    percentiles (a sort per group; swap in the t-digest sketch at 100 TB
    per agg_approx_percentile_eval), pass 2 re-streams the data clipping
    against the BROADCAST thresholds (group-count-sized).  The clipped
    mean accumulates as rounded DECIMAL, so partition order never moves
    the result."""
    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clipped_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clipped_hi"),
            F.round(
                F.sum(F.round(clipped, 6).cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "n_clipped_lo",
            "n_clipped_hi",
            F.round("lo", 6).alias("p01"),
            F.round("hi", 6).alias("p99"),
            "mean_winsorized",
        )
    )


@register(
    "stats_psi_value_drift",
    oracle="""
        WITH tagged AS (
            SELECT event_id, value,
                   CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                             < DATE '2024-01-16'
                        THEN 'base' ELSE 'curr' END AS half
            FROM events WHERE event_type = 'purchase'
        ),
        edges AS (
            SELECT unnest(range(1, 10)) AS k,
                   unnest([quantile_disc(value, 0.1), quantile_disc(value, 0.2),
                           quantile_disc(value, 0.3), quantile_disc(value, 0.4),
                           quantile_disc(value, 0.5), quantile_disc(value, 0.6),
                           quantile_disc(value, 0.7), quantile_disc(value, 0.8),
                           quantile_disc(value, 0.9)]) AS edge
            FROM tagged WHERE half = 'base'
        ),
        bucketed AS (
            SELECT t.event_id, t.half,
                   1 + COUNT(e.k) AS bucket
            FROM tagged t LEFT JOIN edges e ON t.value > e.edge
            GROUP BY t.event_id, t.half
        ),
        counts AS (
            SELECT bucket,
                   COUNT(*) FILTER (half = 'base') AS n_base,
                   COUNT(*) FILTER (half = 'curr') AS n_curr
            FROM bucketed GROUP BY bucket
        ),
        tot AS (
            SELECT SUM(n_base) AS tb, SUM(n_curr) AS tc FROM counts
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(n_base AS BIGINT) AS n_base,
               CAST(n_curr AS BIGINT) AS n_curr,
               round((n_base / CAST(tb AS DOUBLE)
                      - greatest(n_curr / CAST(tc AS DOUBLE), 0.0001))
                     * ln((n_base / CAST(tb AS DOUBLE))
                          / greatest(n_curr / CAST(tc AS DOUBLE), 0.0001)), 6)
                   AS psi_contrib
        FROM counts CROSS JOIN tot
    """,
    tags=("stats", "drift", "psi", "mlops"),
)
def stats_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half-month
    of purchase values: equi-depth deciles fitted on the BASELINE window,
    both windows counted into those fixed bins, PSI contribution
    (p−q)·ln(p/q) per bin — the model-monitoring drift metric (PSI > 0.2
    = retrain alarm).  The floor at 0.0001 on the current-window share is
    the standard zero-bin guard.

    Bin assignment is an EQUI-join-free trick: each value left-joins the
    9 broadcast edges on value > edge and its bucket is 1 + matching-edge
    count — bounded ×9 fan-out, no CASE ladder, no correlated subquery.

    Scale: baseline deciles are one exact-percentile pass (sketchable at
    100 TB); bucketing is map-side against broadcast edges; the final
    aggregate is 10 rows.  Deterministic: integer counts, shares divide
    once, one rounded double per bin."""
    tagged = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "value",
            F.when(
                F.date_trunc("day", "ts").cast("date") < F.lit("2024-01-16").cast("date"),
                "base",
            )
            .otherwise("curr")
            .alias("half"),
        )
    )
    base = tagged.where(F.col("half") == "base")
    edges = base.agg(
        *[
            F.expr(f"percentile_disc(0.{k}) WITHIN GROUP (ORDER BY value)").alias(
                f"e{k}"
            )
            for k in range(1, 10)
        ]
    ).select(
        F.explode(
            F.array(*[F.struct(F.lit(k).alias("k"), F.col(f"e{k}").alias("edge")) for k in range(1, 10)])
        ).alias("s")
    ).select("s.k", "s.edge")
    bucketed = (
        tagged.join(F.broadcast(edges), F.col("value") > F.col("edge"), "left")
        .groupBy("event_id", "half")
        .agg((F.lit(1) + F.count("k")).alias("bucket"))
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.when(F.col("half") == "base", 1)).alias("n_base"),
        F.count(F.when(F.col("half") == "curr", 1)).alias("n_curr"),
    )
    tot = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_curr").alias("tc")
    )
    p = F.col("n_base") / F.col("tb").cast("double")
    qv = F.greatest(F.col("n_curr") / F.col("tc").cast("double"), F.lit(0.0001))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_base").cast("bigint").alias("n_base"),
            F.col("n_curr").cast("bigint").alias("n_curr"),
            F.round((p - qv) * F.log(p / qv), 6).alias("psi_contrib"),
        )
    )


@register(
    "stats_ks_exponential_gaps",
    oracle="""
        WITH g AS (
            SELECT epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS t
            FROM events WHERE event_type = 'purchase'
        ),
        gg AS (SELECT t FROM g WHERE t IS NOT NULL AND t > 0),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(round(t, 6) AS DECIMAL(28,6))) AS DOUBLE) AS st
            FROM gg
        ),
        r AS (
            SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS i FROM gg
        ),
        d AS (
            SELECT r.t, r.i, s.n,
                   1 - exp(-(s.n / s.st) * r.t) AS fit
            FROM r CROSS JOIN s
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
               round(MAX(n) / CAST((SELECT st FROM s) AS DOUBLE), 8) AS lambda_hat,
               round(MAX(greatest(abs(i / CAST(n AS DOUBLE) - fit),
                                  abs((i - 1) / CAST(n AS DOUBLE) - fit))), 6)
                   AS d_stat,
               CAST(MAX(greatest(abs(i / CAST(n AS DOUBLE) - fit),
                                 abs((i - 1) / CAST(n AS DOUBLE) - fit)))
                    > 1.36 / sqrt(MAX(n)) AS INT) AS reject_95
        FROM d
    """,
    tags=("stats", "ks_test", "goodness_of_fit"),
)
def stats_ks_exponential_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov goodness-of-fit: are per-user inter-purchase
    gaps exponential (i.e., is purchasing Poisson)?  λ is fitted as
    n/Σt, the KS D-statistic is the max deviation between the empirical
    step CDF (BOTH step sides per sorted gap) and the fitted CDF, and
    the 1.36/√n line gives the 95% verdict — the distributional test
    that validates (or refutes) every "assume Poisson arrivals" model
    downstream.

    Scale: gap extraction is the sessionization window (user-keyed); the
    ECDF rank is ONE global sort over the gap values — at 100 TB,
    rank via range-partitioned sort + partition-offset prefix sums (the
    repo's standard two-pass trick), or test on a uniform sample (KS
    is sample-size-happy).  Determinism: integer-second gaps, DECIMAL
    Σt, and identical double exp/abs/max on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    g = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select((ep - F.lag(ep).over(w)).alias("t"))
        .where(F.col("t").isNotNull() & (F.col("t") > 0))
    )
    s = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("t", 6).cast("decimal(28,6)")).cast("double").alias("st"),
    )
    r = g.withColumn("i", F.row_number().over(Window.orderBy("t")))
    d = r.crossJoin(F.broadcast(s)).withColumn(
        "fit", F.lit(1.0) - F.exp(-(F.col("n") / F.col("st")) * F.col("t"))
    )
    dev = F.greatest(
        F.abs(F.col("i") / F.col("n").cast("double") - F.col("fit")),
        F.abs((F.col("i") - 1) / F.col("n").cast("double") - F.col("fit")),
    )
    return d.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.round(F.max("n") / F.max("st"), 8).alias("lambda_hat"),
        F.round(F.max(dev), 6).alias("d_stat"),
        (F.max(dev) > 1.36 / F.sqrt(F.max("n"))).cast("int").alias("reject_95"),
    )


@register(
    "stats_diff_in_diff",
    oracle="""
        WITH cell AS (
            SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
                       AS arm,
                   CASE WHEN CAST(date_trunc('day', ts) AS DATE) < DATE '2024-01-16'
                        THEN 0 ELSE 1 END AS post,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sv
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        m AS (
            SELECT
                MAX(CASE WHEN arm = 1 AND post = 0 THEN sv / n END) AS t_pre,
                MAX(CASE WHEN arm = 1 AND post = 1 THEN sv / n END) AS t_post,
                MAX(CASE WHEN arm = 0 AND post = 0 THEN sv / n END) AS c_pre,
                MAX(CASE WHEN arm = 0 AND post = 1 THEN sv / n END) AS c_post
            FROM cell
        )
        SELECT round(t_pre, 6) AS treat_pre, round(t_post, 6) AS treat_post,
               round(c_pre, 6) AS ctrl_pre, round(c_post, 6) AS ctrl_post,
               round((t_post - t_pre) - (c_post - c_pre), 6) AS did_effect
        FROM m
    """,
    tags=("stats", "experiment", "diff_in_diff"),
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: mean purchase value in a 2×2 grid of
    (hash-assigned arm) × (pre/post 2024-01-16), effect = the treated
    arm's change minus the control arm's change — the causal estimator
    that nets out the common time trend a naive before/after comparison
    absorbs (seasonality, platform-wide shifts).  On the fixtures' null
    effect the estimate hovers near zero, which is itself the honest
    A/A-test readout.

    Scale: one 4-cell conditional aggregation over the purchase slice
    (map-side partials), then scalar arithmetic — the entire estimator
    is one shuffle of 4 groups."""
    cell = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
                ).cast("long")
                % 2
            ).alias("arm"),
            F.when(
                F.date_trunc("day", "ts").cast("date")
                < F.lit("2024-01-16").cast("date"),
                0,
            )
            .otherwise(1)
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double").alias("sv"),
        )
    )
    mean = F.col("sv") / F.col("n")
    m = cell.agg(
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 0), mean)).alias("t_pre"),
        F.max(F.when((F.col("arm") == 1) & (F.col("post") == 1), mean)).alias("t_post"),
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 0), mean)).alias("c_pre"),
        F.max(F.when((F.col("arm") == 0) & (F.col("post") == 1), mean)).alias("c_post"),
    )
    return m.select(
        F.round("t_pre", 6).alias("treat_pre"),
        F.round("t_post", 6).alias("treat_post"),
        F.round("c_pre", 6).alias("ctrl_pre"),
        F.round("c_post", 6).alias("ctrl_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 6
        ).alias("did_effect"),
    )


# Bound on the calendar span the single-task sort-rank median accepts
# (see the guard inside stats_theil_sen_trend): 10k distinct days ≈ 27
# years ≈ 50M pairwise slopes ≈ 400 MB through one window task — the
# last size where "one global sort task" is still a sane plan.
_THEIL_SEN_MAX_DAYS = 10_000


@register(
    "stats_theil_sen_trend",
    oracle="""
        WITH daily AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', o_orderdate) AS DATE)) AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        slopes AS (
            SELECT (b.rev - a.rev) / (b.d - a.d) AS slope
            FROM daily a JOIN daily b ON b.d > a.d
        )
        SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(quantile_cont(slope, 0.5), 6) AS sen_slope
        FROM slopes
    """,
    tags=("stats", "robust", "theil_sen", "trend"),
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend of daily revenue: the median of all
    pairwise slopes — a 29%-breakdown-point estimator immune to the
    outlier days that drag stats_trend_slope_per_user's OLS around.
    Day indices are epoch-day integers, so each slope is one exact
    division; the median is the engines' shared interpolated quantile.

    Scale: the pairwise join is over the CALENDAR-BOUNDED daily rollup
    (n² of ~2.4k days ≈ 3M pairs — trivial), never the raw fact table;
    at decades-of-days scale the O(n log n) Theil-Sen refinements or a
    pair sample replace the full cross.  The inequality join (b.d > a.d)
    over the tiny series is the one deliberate non-equi join here."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.date_trunc("day", "o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        # one orders aggregation instead of three: the count action and
        # BOTH pair-join sides read this day-sized checkpoint (r18,
        # guide §2.4 — shared subtree materialized once)
        .localCheckpoint()
    )
    n_days = daily.count()
    # GUARD on the single-task sort (r19, verdict task #7): the r18
    # sort-rank median funnels all n_days²/2 slopes through ONE global
    # window task.  That is the right trade at the calendar scales this
    # query documents (2.4k days ≈ 3M slopes ≈ 24 MB, ~1 s), but a
    # deployment pointing it at a much longer series would silently
    # single-thread an O(n_days²) sort.  n_days is already on the
    # driver for the output column, so the bound costs nothing: past
    # _THEIL_SEN_MAX_DAYS (50M slopes, ~400 MB through one task) the
    # query refuses loudly and names the remedies rather than
    # degrading quietly.
    if n_days > _THEIL_SEN_MAX_DAYS:
        raise ValueError(
            f"stats_theil_sen_trend: {n_days} distinct days would push "
            f"~{n_days * (n_days - 1) // 2:,} pairwise slopes through the "
            "single-task global median sort (bound: "
            f"{_THEIL_SEN_MAX_DAYS} days / "
            f"{_THEIL_SEN_MAX_DAYS * (_THEIL_SEN_MAX_DAYS - 1) // 2:,} "
            "slopes).  For longer series use an O(n log n) Theil-Sen "
            "refinement or a deterministic pair sample, or raise the "
            "bound deliberately after sizing the window task's memory."
        )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.d") > F.col("a.d")).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.d") - F.col("a.d"))).alias(
            "slope"
        )
    )
    # Median via SORT + rank instead of `percentile(slope, 0.5)` (r18,
    # guide §1.2 per-task work): the exact Percentile aggregate buffers
    # every distinct value in a per-partial counts hashmap and merges
    # ~n²/2 mostly-unique doubles into ONE final buffer — measured
    # 10-16 s of the query's 13.8 s at sf0.1.  A global sort of the
    # slope column costs one ~1 s window task at the same scale.  The
    # interpolation reproduces Percentile.getPercentile VERBATIM:
    # position = 0.5·(n−1); return the lower key when floor == ceil,
    # else (higher−position)·lower_key + (position−lower)·higher_key —
    # A/B-verified bit-equal against the old aggregate at all three
    # fixture sfs, and the DuckDB oracle (quantile_cont) is unchanged.
    wr = Window.orderBy("slope")
    wall = Window.orderBy("slope").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pos_r = (F.count(F.lit(1)).over(wall) - 1).cast("double") * F.lit(0.5)
    ranked = slopes.select(
        "slope",
        F.row_number().over(wr).alias("rk"),
        pos_r.alias("pos"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min(
            F.when(F.col("rk") == F.floor("pos") + 1, F.col("slope"))
        ).alias("lo"),
        F.min(
            F.when(F.col("rk") == F.ceil("pos") + 1, F.col("slope"))
        ).alias("hi"),
    )
    pos = (F.col("n_pairs") - 1).cast("double") * F.lit(0.5)
    lower = F.floor(pos)
    higher = F.ceil(pos)
    sen = F.when(higher == lower, F.col("lo")).otherwise(
        (higher.cast("double") - pos) * F.col("lo")
        + (pos - lower.cast("double")) * F.col("hi")
    )
    return agg.select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        "n_pairs",
        F.round(sen, 6).alias("sen_slope"),
    )


@register(
    "stats_circular_mean_hour",
    oracle="""
        WITH h AS (
            SELECT event_type,
                   (epoch(ts) % 86400) / 86400.0 * 2 * pi() AS theta
            FROM events
        ),
        s AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(round(sin(theta), 9) AS DECIMAL(28,9)))
                        AS DOUBLE) AS ss,
                   CAST(SUM(CAST(round(cos(theta), 9) AS DECIMAL(28,9)))
                        AS DOUBLE) AS sc
            FROM h GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               round(((atan2(ss, sc) + 2 * pi()) % (2 * pi()))
                     / (2 * pi()) * 24, 4) AS mean_hour,
               round(sqrt(ss * ss + sc * sc) / n, 6) AS resultant_r
        FROM s
    """,
    tags=("stats", "circular", "time_of_day"),
)
def stats_circular_mean_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCULAR mean time-of-day per event type: each timestamp becomes
    an angle on the 24 h clock, the mean direction comes from atan2 of
    the summed sin/cos, and the resultant length R ∈ [0, 1] measures
    concentration — the statistic that correctly averages 23:00 and
    01:00 to midnight where a linear mean says noon (the classic
    time-of-day bug), with R ≈ 0 flagging "no preferred hour" where a
    linear mean would still print one.

    Scale: map-side sin/cos, one grouped DECIMAL sum per type, scalar
    atan2 on the group row — the cheapest query in the stats family.
    Determinism: rounded sin/cos contributions accumulate as DECIMAL;
    atan2/sqrt on identical doubles agree bit-for-bit."""
    ep = epoch("ts")
    theta = (ep % 86400) / 86400.0 * 2 * 3.141592653589793
    h = load(spark, sf_dir, "events").select(
        "event_type", theta.alias("theta")
    )
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.sin("theta"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.round(F.cos("theta"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sc"),
    )
    two_pi = 2 * 3.141592653589793
    mean_hour = F.round(
        ((F.atan2("ss", "sc") + two_pi) % two_pi) / two_pi * 24, 4
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        mean_hour.alias("mean_hour"),
        F.round(
            F.sqrt(F.col("ss") * F.col("ss") + F.col("sc") * F.col("sc")) / F.col("n"),
            6,
        ).alias("resultant_r"),
    )


@register(
    "retention_halflife_fit",
    oracle="""
        WITH firstseen AS (
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
            FROM events
        ),
        tri AS (
            SELECT CAST(date_diff('day', f.cw, a.aw) / 7 AS BIGINT) AS w,
                   COUNT(*) AS active
            FROM activity a JOIN firstseen f ON a.user_id = f.user_id
            GROUP BY 1
        ),
        base AS (SELECT active AS cohort0 FROM tri WHERE w = 0),
        pts AS (
            SELECT w, round(ln(active / CAST(cohort0 AS DOUBLE)), 9) AS y
            FROM tri CROSS JOIN base WHERE w >= 1
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(w AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(w * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(w AS DECIMAL(18,0)) * w) AS DOUBLE) AS sxx
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               round(CASE WHEN (n * sxx - sx * sx) <> 0
                          THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     END, 6) AS decay_slope,
               round(CASE WHEN (n * sxx - sx * sx) <> 0
                           AND (n * sxy - sx * sy) <> 0
                          THEN -ln(2) / ((n * sxy - sx * sy)
                                         / (n * sxx - sx * sx))
                     END, 4) AS halflife_weeks
        FROM s
    """,
    tags=("stats", "retention", "halflife", "regression"),
)
def retention_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention HALF-LIFE: fit ln(retention) = a + b·week over the
    weekly retention curve (active users at offset w over the week-0
    base) and report b and −ln2/b — the single number ("users halve
    every N weeks") product teams quote from the retention triangle
    events_retention_cohorts draws.  Exponential decay is the standard
    first-order retention model; a poor fit (curvature in ln space)
    flags the power-law/heterogeneous-cohort case where the half-life
    headline misleads.

    Scale: the triangle is the retention query's two user-keyed
    reductions; the fit runs over W points (weeks — calendar-bounded);
    same OLS-with-DECIMAL-moments shape as stats_zipf_slope_by_lang.
    Degenerate series return NULL instead of erroring (r10 sweep
    catch): a FLAT retention curve is legitimate data and fits b = 0
    exactly — the half-life is infinite, reported as NULL, not an ANSI
    DIVIDE_BY_ZERO (Spark 4 errors on double/0 under ANSI); likewise a
    sub-2-point series has no slope (zero OLS denominator) and both
    outputs are NULL."""
    firstseen = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cw"))
    )
    activity = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").cast("date").alias("aw"))
        .distinct()
    )
    tri = (
        activity.join(firstseen, "user_id")
        .groupBy(
            F.floor(F.datediff("aw", "cw") / 7).cast("bigint").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("active"))
    )
    base = tri.where(F.col("w") == 0).select(F.col("active").alias("cohort0"))
    pts = (
        tri.crossJoin(F.broadcast(base))
        .where(F.col("w") >= 1)
        .select(
            "w",
            F.round(F.log(F.col("active") / F.col("cohort0").cast("double")), 9).alias(
                "y"
            ),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("w").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum(F.round("y", 9).cast("decimal(28,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("w") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("w").cast("decimal(18,0)") * F.col("w")).cast("double").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = F.when(denom != 0, num / denom)  # NULL on a sub-2-point series
    import math
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(b, 6).alias("decay_slope"),
        # b = 0 is reachable with clean data (flat retention): the
        # half-life is infinite -> NULL, never an ANSI double/0 error
        F.round(F.when(b != 0, F.lit(-math.log(2)) / b), 4).alias(
            "halflife_weeks"
        ),
    )


@register(
    "stats_dispersion_order_size",
    oracle="""
        WITH sz AS (
            SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY l_orderkey
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(k AS DECIMAL(18,0))) AS DOUBLE) AS sk,
                   CAST(SUM(CAST(k AS DECIMAL(18,0)) * k) AS DOUBLE) AS skk
            FROM sz
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(sk / n, 6) AS mean_lines,
               round((skk - sk * sk / n) / (n - 1), 6) AS var_lines,
               round(((skk - sk * sk / n) / (n - 1)) / (sk / n), 6)
                   AS dispersion_index,
               CAST(((skk - sk * sk / n) / (n - 1)) / (sk / n) > 1.0 AS INT)
                   AS overdispersed
        FROM s
    """,
    tags=("stats", "dispersion", "count_model"),
)
def stats_dispersion_order_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX OF DISPERSION for order sizes (lineitems per order):
    variance over mean of a count variable — 1.0 under Poisson, above it
    the counts are clumped (negative-binomial territory) and any
    "expected orders of size k" model built on Poisson quietly
    under-predicts the tail.  The count-data companion to
    stats_ks_exponential_gaps' continuous-gap test.

    Scale: one order-keyed count, one 3-moment aggregate, scalar math —
    integer counts accumulate as DECIMAL so the moments are exact."""
    sz = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("k")
    )
    s = sz.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("decimal(18,0)")).cast("double").alias("sk"),
        F.sum(F.col("k").cast("decimal(18,0)") * F.col("k")).cast("double").alias("skk"),
    )
    mean = F.col("sk") / F.col("n")
    var = (F.col("skk") - F.col("sk") * F.col("sk") / F.col("n")) / (F.col("n") - 1)
    return s.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(mean, 6).alias("mean_lines"),
        F.round(var, 6).alias("var_lines"),
        F.round(var / mean, 6).alias("dispersion_index"),
        (var / mean > 1.0).cast("int").alias("overdispersed"),
    )


@register(
    "events_error_budget_burn",
    oracle="""
        WITH d AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS n_total,
                   COUNT(*) FILTER (event_type = 'error') AS n_err
            FROM events GROUP BY 1
        ),
        c AS (
            SELECT day, n_total, n_err,
                   SUM(n_err) OVER (ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_err,
                   SUM(n_total) OVER (ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_total
            FROM d
        )
        SELECT day, CAST(n_total AS BIGINT) AS n_total,
               CAST(n_err AS BIGINT) AS n_err,
               round(n_err / CAST(n_total AS DOUBLE) / 0.2, 6) AS daily_burn_rate,
               round(cum_err / CAST(cum_total AS DOUBLE) / 0.2, 6)
                   AS cum_budget_used,
               CAST(n_err / CAST(n_total AS DOUBLE) / 0.2 > 1.0 AS INT)
                   AS burn_alert
        FROM c
    """,
    tags=("sre", "slo", "error_budget"),
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET BURN: daily error fraction over an 80%-success
    SLO (20% budget — sized to the fixtures' uniform event mix; a real
    service uses 99.9% and the same arithmetic), expressed as burn RATE
    (1.0 = exactly consuming budget; >1 pages someone) plus the
    cumulative budget-used curve — Google-SRE-style alerting math as a
    relational query.  The cumulative series is the month-to-date budget
    meter; multi-window burn alerts (5m + 1h) are the same expression
    over finer windows.

    Scale: one (day)-keyed conditional count (map-side partials), then
    running sums over the calendar-bounded daily grid."""
    d = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select(
        "day",
        "n_total",
        "n_err",
        F.sum("n_err").over(wcum).alias("cum_err"),
        F.sum("n_total").over(wcum).alias("cum_total"),
    )
    daily = F.col("n_err") / F.col("n_total").cast("double") / 0.2
    return c.select(
        "day",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_err").cast("bigint").alias("n_err"),
        F.round(daily, 6).alias("daily_burn_rate"),
        F.round(F.col("cum_err") / F.col("cum_total").cast("double") / 0.2, 6).alias(
            "cum_budget_used"
        ),
        (daily > 1.0).cast("int").alias("burn_alert"),
    )


@register(
    "forecast_snaive_backtest",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        d AS (SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
        bt AS (
            SELECT a.day, a.rev AS actual, b.rev AS forecast
            FROM d a JOIN d b ON b.rn = a.rn - 7
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
               round(CAST(SUM(CAST(round(abs(actual - forecast), 2)
                                   AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*), 2)
                   AS mae,
               round(CAST(SUM(CAST(round(200.0 * abs(actual - forecast)
                                         / (abs(actual) + abs(forecast)), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 4)
                   AS smape_pct
        FROM bt
    """,
    tags=("forecast", "backtest", "snaive"),
)
def forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE forecast BACKTEST: predict each day's revenue as
    the value 7 observations earlier and score MAE and sMAPE over the
    whole history — the benchmark every forecasting model must beat
    before it ships (M-competition practice: report skill relative to
    snaive, not absolute error).  Pairs come from the same rn-arithmetic
    self-join as stats_acf_daily_revenue; sMAPE's symmetric denominator
    avoids the divide-by-small-actual blowup of plain MAPE.

    Scale: the backtest runs over the day-bounded rollup; error sums
    accumulate as rounded DECIMAL so both engines report identical
    skill numbers."""
    daily = _daily_revenue(spark, sf_dir)
    d = daily.withColumn("rn", F.row_number().over(Window.orderBy("day")))
    a = d.alias("a")
    b = d.select(F.col("rn").alias("rn_b"), F.col("rev").alias("forecast"))
    bt = a.join(b, F.col("a.rn") - 7 == F.col("rn_b")).select(
        F.col("a.rev").alias("actual"), "forecast"
    )
    ae = F.abs(F.col("actual") - F.col("forecast"))
    smape = 200.0 * ae / (F.abs("actual") + F.abs("forecast"))
    return bt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
        F.round(
            F.sum(F.round(ae, 2).cast("decimal(28,2)")).cast("double")
            / F.count(F.lit(1)),
            2,
        ).alias("mae"),
        F.round(
            F.sum(F.round(smape, 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("smape_pct"),
    )


@register(
    "spc_pchart_returns",
    oracle="""
        WITH wk AS (
            SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (l_returnflag = 'R') AS n_ret
            FROM lineitem GROUP BY 1
        ),
        cl AS (
            SELECT CAST(SUM(n_ret) AS DOUBLE) / SUM(n) AS pbar FROM wk
        )
        SELECT week, CAST(n AS BIGINT) AS n,
               round(n_ret / CAST(n AS DOUBLE), 6) AS p_hat,
               round(pbar, 6) AS center_line,
               round(pbar + 3 * sqrt(pbar * (1 - pbar) / n), 6) AS ucl,
               round(greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0), 6)
                   AS lcl,
               CAST(n_ret / CAST(n AS DOUBLE)
                    > pbar + 3 * sqrt(pbar * (1 - pbar) / n)
                    OR n_ret / CAST(n AS DOUBLE)
                    < greatest(pbar - 3 * sqrt(pbar * (1 - pbar) / n), 0.0)
                    AS INT) AS out_of_control
        FROM wk CROSS JOIN cl
    """,
    tags=("spc", "control_chart", "quality"),
)
def spc_pchart_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-CHART (statistical process control): weekly return-flag rate
    against 3σ binomial control limits around the process centerline —
    Shewhart's rule separates common-cause noise from assignable-cause
    weeks (flagged rows are the ones worth investigating; reacting to
    in-control wiggles is tampering).  Per-week limits widen for small
    samples automatically via the √(p̄(1−p̄)/n) term.

    Scale: one week-keyed conditional count, a 1-row centerline
    broadcast, map-side limit arithmetic — the entire chart is two
    scans' worth of work regardless of history length."""
    wk = load(spark, sf_dir, "lineitem").groupBy(
        F.date_trunc("week", "l_shipdate").cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_ret"),
    )
    cl = wk.agg(
        (F.sum("n_ret").cast("double") / F.sum("n")).alias("pbar")
    )
    p_hat = F.col("n_ret") / F.col("n").cast("double")
    sig = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    ucl = F.col("pbar") + 3 * sig
    lcl = F.greatest(F.col("pbar") - 3 * sig, F.lit(0.0))
    return wk.crossJoin(F.broadcast(cl)).select(
        "week",
        F.col("n").cast("bigint").alias("n"),
        F.round(p_hat, 6).alias("p_hat"),
        F.round("pbar", 6).alias("center_line"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p_hat > ucl) | (p_hat < lcl)).cast("int").alias("out_of_control"),
    )


@register(
    "events_harmonic_peak_hour",
    oracle="""
        WITH hh AS (
            SELECT CAST(extract('hour' FROM ts) AS BIGINT) AS hr, COUNT(*) AS y
            FROM events GROUP BY 1
        ),
        terms AS (
            SELECT hr, y,
                   cos(2 * pi() * hr / 24.0) AS ch,
                   sin(2 * pi() * hr / 24.0) AS sh
            FROM hh
        ),
        fit AS (
            SELECT CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE)
                       / NULLIF(COUNT(*), 0) AS a,
                   2.0 / NULLIF(COUNT(*), 0)
                       * CAST(SUM(CAST(round(y * ch, 6) AS DECIMAL(28,6)))
                              AS DOUBLE) AS b,
                   2.0 / NULLIF(COUNT(*), 0)
                       * CAST(SUM(CAST(round(y * sh, 6) AS DECIMAL(28,6)))
                              AS DOUBLE) AS c
            FROM terms
        )
        SELECT round(a, 4) AS mean_per_hour,
               round(sqrt(b * b + c * c), 4) AS amplitude,
               round(((atan2(c, b) + 2 * pi()) % (2 * pi())) / (2 * pi()) * 24, 4)
                   AS peak_hour,
               round(sqrt(b * b + c * c) / a, 6) AS relative_amplitude
        FROM fit
    """,
    tags=("stats", "harmonic", "fourier", "seasonality"),
)
def events_harmonic_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-HARMONIC fit of the hourly load curve: regress hourly event
    counts on cos/sin of the 24 h cycle — on the BALANCED hourly design
    the least-squares coefficients collapse to scaled inner products (no
    normal-equation solve), giving amplitude, PEAK HOUR (the phase), and
    relative amplitude = how concentrated daily load is.  The
    count-weighted Fourier twin of stats_circular_mean_hour (which
    averages event angles; this fits the load CURVE — they disagree
    exactly when traffic is multimodal, which is itself the signal).

    Scale: 24-row aggregation after one hour-keyed count; everything
    else is scalar.  Higher harmonics are more cos/sin columns, same
    shape.  An empty feed has zero design points — all four outputs go
    NULL via NULLIF, never an ANSI 2.0/0 (r11 empty-input hardening)."""
    two_pi = 2 * 3.141592653589793
    hh = load(spark, sf_dir, "events").groupBy(
        F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).alias("y"))
    terms = hh.select(
        "y",
        F.cos(two_pi * F.col("hr") / 24.0).alias("ch"),
        F.sin(two_pi * F.col("hr") / 24.0).alias("sh"),
    )
    n_pts = F.nullif(F.count(F.lit(1)), F.lit(0))
    fit = terms.agg(
        (F.sum(F.col("y").cast("decimal(18,0)")).cast("double") / n_pts).alias("a"),
        (
            2.0
            / n_pts
            * F.sum(F.round(F.col("y") * F.col("ch"), 6).cast("decimal(28,6)")).cast(
                "double"
            )
        ).alias("b"),
        (
            2.0
            / n_pts
            * F.sum(F.round(F.col("y") * F.col("sh"), 6).cast("decimal(28,6)")).cast(
                "double"
            )
        ).alias("c"),
    )
    amp = F.sqrt(F.col("b") * F.col("b") + F.col("c") * F.col("c"))
    return fit.select(
        F.round("a", 4).alias("mean_per_hour"),
        F.round(amp, 4).alias("amplitude"),
        F.round(
            ((F.atan2("c", "b") + two_pi) % two_pi) / two_pi * 24, 4
        ).alias("peak_hour"),
        F.round(amp / F.col("a"), 6).alias("relative_amplitude"),
    )


@register(
    "users_discounted_ltv",
    oracle="""
        WITH base AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
                      FROM events),
        pv AS (
            SELECT user_id,
                   round(value * pow(0.999,
                         date_diff('day', d0, CAST(date_trunc('day', ts) AS DATE))),
                         6) AS disc_v
            FROM events CROSS JOIN base
            WHERE event_type = 'purchase'
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               round(CAST(SUM(CAST(disc_v AS DECIMAL(28,6))) AS DOUBLE), 4)
                   AS discounted_ltv
        FROM pv
        GROUP BY user_id
        ORDER BY discounted_ltv DESC, user_id
        LIMIT 20
    """,
    tags=("finance", "ltv", "npv", "discounting"),
)
def users_discounted_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNTED lifetime value: each purchase present-valued at a
    0.1%/day discount rate from the observation start — the NPV
    arithmetic that makes early and late revenue commensurable (the
    difference between "total spend" rankings and what finance will
    actually fund acquisition against).  Top-20 users by discounted
    value.

    Scale: the discount factor is map-side pow over the day offset (no
    window); per-user sums accumulate rounded DECIMAL; the 1-row epoch
    broadcasts.  pow on identical (base, integer exponent) pairs is
    bit-stable across engines."""
    base = load(spark, sf_dir, "events").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    pv = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(base))
        .select(
            "user_id",
            F.round(
                F.col("value")
                * F.pow(
                    F.lit(0.999),
                    F.datediff(F.date_trunc("day", "ts").cast("date"), "d0"),
                ),
                6,
            ).alias("disc_v"),
        )
    )
    return (
        pv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(
                F.sum(F.col("disc_v").cast("decimal(28,6)")).cast("double"), 4
            ).alias("discounted_ltv"),
        )
        .orderBy(F.desc("discounted_ltv"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "price_elasticity_discount",
    oracle="""
        WITH pt AS (
            SELECT p.p_type AS ptype,
                   CAST(l.l_discount AS DOUBLE) AS x,
                   round(ln(l.l_quantity), 9) AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity > 0
        ),
        s AS (
            SELECT ptype, COUNT(*) AS n,
                   CAST(SUM(CAST(round(x, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE)
                       AS sxy,
                   CAST(SUM(CAST(round(x * x, 8) AS DECIMAL(28,8))) AS DOUBLE)
                       AS sxx
            FROM pt GROUP BY ptype
        )
        SELECT ptype AS p_type, CAST(n AS BIGINT) AS n_lines,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                   AS discount_response,
               CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) > 0 AS INT)
                   AS discount_lifts_volume
        FROM s
    """,
    tags=("stats", "elasticity", "econometrics"),
)
def price_elasticity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNT RESPONSE (semi-log elasticity): per part type, regress
    ln(quantity) on the discount rate — the slope reads as "% volume
    change per discount point", the number pricing teams trade against
    margin give-up.  A flat/negative slope on the fixtures is the honest
    null (quantities are independent of discount by construction) — the
    estimator's job is to SAY so, which naive avg-quantity-by-discount-
    bucket tables routinely don't (they re-discover bucket noise).

    Scale: the part-type join broadcasts the dimension; OLS moments
    accumulate as rounded DECIMAL per type (map-side partials); output
    is type-cardinality rows."""
    l = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    pt = l.join(p, l["l_partkey"] == p["p_partkey"]).select(
        F.col("p_type").alias("ptype"),
        F.col("l_discount").cast("double").alias("x"),
        F.round(F.log("l_quantity"), 9).alias("y"),
    )
    s = pt.groupBy("ptype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("x", 4).cast("decimal(18,4)")).cast("double").alias("sx"),
        F.sum(F.round("y", 9).cast("decimal(28,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 8).cast("decimal(28,8)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("ptype").alias("p_type"),
        F.col("n").cast("bigint").alias("n_lines"),
        F.round(slope, 6).alias("discount_response"),
        (slope > 0).cast("int").alias("discount_lifts_volume"),
    )


@register(
    "users_bot_score",
    oracle="""
        WITH g AS (
            SELECT user_id,
                   epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap
            FROM events
        ),
        per AS (
            SELECT user_id,
                   COUNT(*) + 1 AS n_events,
                   CAST(SUM(CAST(round(gap, 3) AS DECIMAL(28,3))) AS DOUBLE) AS sg,
                   CAST(SUM(CAST(round(gap * gap, 3) AS DECIMAL(38,3))) AS DOUBLE)
                       AS sgg,
                   COUNT(*) AS n_gaps
            FROM g WHERE gap IS NOT NULL
            GROUP BY user_id
            HAVING COUNT(*) >= 5
        ),
        scored AS (
            SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                   round(3600.0 * n_gaps / sg, 4) AS events_per_hour,
                   round(sqrt(greatest((sgg - sg * sg / n_gaps)
                                       / (n_gaps - 1), 0.0))
                         / (sg / n_gaps), 4) AS gap_cv
            FROM per
        )
        SELECT user_id, n_events, events_per_hour, gap_cv,
               CAST(gap_cv < 0.3 AS INT) AS too_regular
        FROM scored
        ORDER BY gap_cv, user_id
        LIMIT 20
    """,
    tags=("abuse", "bot_detection", "regularity"),
)
def users_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOT-REGULARITY screen: per user (≥ 5 gaps), event rate and the
    COEFFICIENT OF VARIATION of inter-arrival times — humans are bursty
    (CV ≈ 1 for Poisson, higher with sessions), schedulers are metronomic
    (CV → 0), so the 20 most-regular users ranked here are the cron-job
    candidates.  Rate alone misses slow bots; regularity alone misses
    bursty scrapers — ship both columns, gate on the pair.  Complements
    events_burst_users (which finds the OPPOSITE tail).

    Scale: gap extraction is the sessionization window; per-user moments
    accumulate as rounded DECIMAL; the CV formula is the guarded
    sum-of-squares idiom."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    g = load(spark, sf_dir, "events").select(
        "user_id", (ep - F.lag(ep).over(w)).alias("gap")
    )
    per = (
        g.where(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
            F.sum(F.round("gap", 3).cast("decimal(28,3)")).cast("double").alias("sg"),
            F.sum(F.round(F.col("gap") * F.col("gap"), 3).cast("decimal(38,3)"))
            .cast("double")
            .alias("sgg"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .where(F.col("n_gaps") >= 5)
    )
    mean = F.col("sg") / F.col("n_gaps")
    sd = F.sqrt(
        F.greatest(
            (F.col("sgg") - F.col("sg") * F.col("sg") / F.col("n_gaps"))
            / (F.col("n_gaps") - 1),
            F.lit(0.0),
        )
    )
    scored = per.select(
        "user_id",
        "n_events",
        F.round(3600.0 * F.col("n_gaps") / F.col("sg"), 4).alias("events_per_hour"),
        F.round(sd / mean, 4).alias("gap_cv"),
    )
    return (
        scored.select(
            "user_id",
            "n_events",
            "events_per_hour",
            "gap_cv",
            (F.col("gap_cv") < 0.3).cast("int").alias("too_regular"),
        )
        .orderBy(F.asc("gap_cv"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "whale_retention_jaccard",
    oracle="""
        WITH wk AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
                       AS v
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT week, user_id,
                   ROW_NUMBER() OVER (PARTITION BY week
                                      ORDER BY v DESC, user_id) AS rn,
                   COUNT(*) OVER (PARTITION BY week) AS n
            FROM wk
        ),
        whales AS (
            SELECT week, user_id FROM ranked WHERE rn <= greatest(n // 10, 1)
        ),
        weeks AS (SELECT DISTINCT week FROM whales),
        pairs AS (
            SELECT w1.week AS week_a, MIN(w2.week) AS week_b
            FROM weeks w1 JOIN weeks w2 ON w2.week > w1.week
            GROUP BY w1.week
        )
        SELECT p.week_a, p.week_b,
               CAST(COUNT(a.user_id) AS BIGINT) AS n_whales_a,
               CAST((SELECT COUNT(*) FROM whales x WHERE x.week = p.week_b)
                    AS BIGINT) AS n_whales_b,
               CAST(COUNT(b.user_id) AS BIGINT) AS n_retained,
               round(COUNT(b.user_id)
                     / CAST(COUNT(a.user_id)
                            + (SELECT COUNT(*) FROM whales x
                               WHERE x.week = p.week_b)
                            - COUNT(b.user_id) AS DOUBLE), 6) AS jaccard
        FROM pairs p
        JOIN whales a ON a.week = p.week_a
        LEFT JOIN whales b ON b.week = p.week_b AND b.user_id = a.user_id
        GROUP BY p.week_a, p.week_b
    """,
    tags=("cohort", "whales", "jaccard", "retention"),
)
def whale_retention_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHALE-SET stability: the top-10% purchasers of each week compared
    to the NEXT observed week's set by Jaccard — high overlap means
    revenue concentration is persistent (retain the same whales), low
    overlap means whale status is churn-prone noise (acquisition, not
    retention, drives the top decile).  Set similarity applied to
    cohorts instead of documents — the same metric, a different plane.

    Scale: weekly per-user sums shuffle once; whale selection is a
    week-partitioned window; consecutive-week pairing and the overlap
    join run over the whale sets (10% of weekly actives)."""
    wk = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
        )
        .agg(
            F.sum(F.round("value", 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("v")
        )
    )
    wrk = Window.partitionBy("week").orderBy(F.desc("v"), F.asc("user_id"))
    wn = Window.partitionBy("week")
    whales = (
        wk.withColumn("rn", F.row_number().over(wrk))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .where(F.col("rn") <= F.greatest(F.floor(F.col("n") / 10), F.lit(1)))
        .select("week", "user_id")
        .localCheckpoint()
    )
    weeks = whales.select("week").distinct()
    w1, w2 = weeks.alias("w1"), weeks.alias("w2")
    pairs = (
        w1.join(w2, F.col("w2.week") > F.col("w1.week"))
        .groupBy(F.col("w1.week").alias("week_a"))
        .agg(F.min("w2.week").alias("week_b"))
    )
    sizes = whales.groupBy("week").agg(F.count(F.lit(1)).alias("sz"))
    a = whales.select(F.col("week").alias("week_a"), "user_id")
    b = whales.select(F.col("week").alias("wb"), F.col("user_id").alias("uid_b"))
    j = (
        pairs.join(a, "week_a")
        .join(
            b,
            (F.col("week_b") == F.col("wb")) & (F.col("user_id") == F.col("uid_b")),
            "left",
        )
        .groupBy("week_a", "week_b")
        .agg(
            F.count("user_id").cast("bigint").alias("n_whales_a"),
            F.count("uid_b").cast("bigint").alias("n_retained"),
        )
    )
    jj = j.join(
        sizes.select(F.col("week").alias("week_b"), F.col("sz").alias("n_whales_b")),
        "week_b",
    )
    return jj.select(
        "week_a",
        "week_b",
        "n_whales_a",
        F.col("n_whales_b").cast("bigint").alias("n_whales_b"),
        "n_retained",
        F.round(
            F.col("n_retained")
            / (F.col("n_whales_a") + F.col("n_whales_b") - F.col("n_retained")).cast(
                "double"
            ),
            6,
        ).alias("jaccard"),
    )


@register(
    "seasonality_strength_dow",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
            FROM orders GROUP BY 1
        ),
        tagged AS (
            SELECT day, rev,
                   date_diff('day', DATE '1970-01-05', day) % 7 AS dow
            FROM daily
        ),
        dowm AS (
            SELECT dow,
                   CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE)
                       / COUNT(*) AS m,
                   COUNT(*) AS n
            FROM tagged GROUP BY dow
        ),
        g AS (
            SELECT CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE)
                       / COUNT(*) AS gm,
                   COUNT(*) AS gn,
                   CAST(SUM(CAST(round(rev * rev, 4) AS DECIMAL(38,4)))
                        AS DOUBLE) AS srr,
                   CAST(SUM(CAST(round(rev, 2) AS DECIMAL(28,2))) AS DOUBLE) AS sr
            FROM tagged
        ),
        between_var AS (
            SELECT CAST(SUM(CAST(round(d.n * (d.m - g.gm) * (d.m - g.gm), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE) AS ssb
            FROM dowm d CROSS JOIN g
        )
        SELECT round(b.ssb / (g.srr - g.sr * g.sr / g.gn), 6)
                   AS seasonality_strength,
               CAST(b.ssb / (g.srr - g.sr * g.sr / g.gn) > 0.1 AS INT)
                   AS weekly_pattern_present
        FROM between_var b CROSS JOIN g
    """,
    tags=("stats", "seasonality", "variance_decomposition"),
)
def seasonality_strength_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY STRENGTH: the share of daily-revenue variance
    explained by day-of-week means (between-group sum of squares over
    total — the one-way ANOVA R²) — the single number that decides
    whether stats_seasonal_adjust_daily is worth running at all
    (strength ≈ 0 → adjusting adds noise, not signal).  Day-of-week via
    the convention-free Monday-epoch modulus shared with the calendar
    ops.

    Scale: daily rollup, a 7-row group-mean table, and two scalar
    aggregates — variance decomposition at aggregation cost."""
    daily = _daily_revenue(spark, sf_dir)
    tagged = daily.select(
        "rev",
        (F.datediff("day", F.lit("1970-01-05").cast("date")) % 7).alias("dow"),
    )
    dowm = tagged.groupBy("dow").agg(
        (
            F.sum(F.round("rev", 2).cast("decimal(28,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    g = tagged.agg(
        (
            F.sum(F.round("rev", 2).cast("decimal(28,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("gm"),
        F.count(F.lit(1)).alias("gn"),
        F.sum(F.round(F.col("rev") * F.col("rev"), 4).cast("decimal(38,4)"))
        .cast("double")
        .alias("srr"),
        F.sum(F.round("rev", 2).cast("decimal(28,2)")).cast("double").alias("sr"),
    )
    bet = dowm.crossJoin(F.broadcast(g)).agg(
        F.sum(
            F.round(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm")),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ssb")
    )
    strength = F.col("ssb") / (
        F.col("srr") - F.col("sr") * F.col("sr") / F.col("gn")
    )
    return bet.crossJoin(F.broadcast(g)).select(
        F.round(strength, 6).alias("seasonality_strength"),
        (strength > 0.1).cast("int").alias("weekly_pattern_present"),
    )


@register(
    "stats_jarque_bera_normality",
    oracle="""
        WITH s AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
                       AS s1,
                   CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                        AS DOUBLE) AS s2,
                   CAST(SUM(CAST(round(value * value * value, 4)
                                 AS DECIMAL(38,4))) AS DOUBLE) AS s3,
                   CAST(SUM(CAST(round(value * value * value * value, 2)
                                 AS DECIMAL(38,2))) AS DOUBLE) AS s4
            FROM events GROUP BY event_type
        ),
        m AS (
            SELECT event_type, n,
                   s1 / n AS m1,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                       + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                       - 3 * pow(s1 / n, 4) AS m4
            FROM s
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               round(m3 / pow(m2, 1.5), 6) AS skewness,
               round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
               round(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                                + pow(m4 / (m2 * m2) - 3, 2) / 4), 4) AS jb_stat,
               CAST(n / 6.0 * (pow(m3 / pow(m2, 1.5), 2)
                               + pow(m4 / (m2 * m2) - 3, 2) / 4) > 5.99 AS INT)
                   AS reject_normal_95
        FROM m
    """,
    tags=("stats", "normality", "jarque_bera"),
)
def stats_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA normality test per event type: skewness and excess
    kurtosis from exact central moments, JB = n/6·(S² + K²/4) against
    the χ²₂ 95% line — the moment-based normality screen that decides
    whether the z-score anomaly detectors (events_anomaly_zscore) and
    t-based intervals upstream are standing on their assumptions (heavy
    tails inflate σ and hide anomalies; this is the test that says so).

    Scale: four power sums per group with rounded-DECIMAL accumulation
    (the raw→central moment conversion is scalar algebra); one shuffle,
    group-cardinality output."""
    s = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("value", 6).cast("decimal(28,6)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("value") * F.col("value"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
        F.sum(
            F.round(F.col("value") * F.col("value") * F.col("value"), 4).cast(
                "decimal(38,4)"
            )
        )
        .cast("double")
        .alias("s3"),
        F.sum(
            F.round(
                F.col("value") * F.col("value") * F.col("value") * F.col("value"), 2
            ).cast("decimal(38,2)")
        )
        .cast("double")
        .alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = F.col("s3") / F.col("n") - 3 * m1 * (F.col("s2") / F.col("n")) + 2 * F.pow(m1, 3)
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * F.pow(m1, 4)
    )
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3
    jb = F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4)
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        (jb > 5.99).cast("int").alias("reject_normal_95"),
    )


@register(
    "changepoint_poisson_binseg",
    oracle="""
        WITH d AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
            FROM events GROUP BY 1
        ),
        c AS (
            SELECT day, n,
                   SUM(n) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_n,
                   ROW_NUMBER() OVER (ORDER BY day) AS k,
                   SUM(n) OVER () AS tot_n,
                   COUNT(*) OVER () AS tot_d
            FROM d
        ),
        scored AS (
            SELECT day, cum_n, k, tot_n, tot_d,
                   round(cum_n * ln(cum_n / CAST(k AS DOUBLE))
                         + (tot_n - cum_n)
                           * ln((tot_n - cum_n) / CAST(tot_d - k AS DOUBLE))
                         - tot_n * ln(tot_n / CAST(tot_d AS DOUBLE)), 6) AS gain
            FROM c
            WHERE k < tot_d AND cum_n > 0 AND tot_n - cum_n > 0
        )
        SELECT day AS split_after_day,
               round(cum_n / CAST(k AS DOUBLE), 4) AS rate_left,
               round((tot_n - cum_n) / CAST(tot_d - k AS DOUBLE), 4) AS rate_right,
               gain AS loglik_gain
        FROM scored
        ORDER BY gain DESC, day
        LIMIT 1
    """,
    tags=("stats", "changepoint", "poisson", "binseg"),
)
def changepoint_poisson_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BINARY SEGMENTATION: the single best day to split the
    daily event-count series into two constant-rate regimes, by exact
    log-likelihood gain n₁ln(n₁/d₁) + n₂ln(n₂/d₂) − n·ln(n/D) — the
    likelihood-based changepoint that complements CUSUM
    (stats_cusum_daily_revenue detects MEAN shifts in a continuous
    series; this detects RATE shifts in counts, with a principled gain
    to threshold against χ²).  Recursing into each side yields the full
    binary-segmentation tree — each recursion is this same query over a
    day range.

    Scale: every candidate split's statistics come from ONE running sum
    over the calendar-bounded daily grid (no per-split rescan), then an
    argmax — O(days) total."""
    d = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    c = d.select(
        "day",
        F.sum("n").over(wcum).alias("cum_n"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.sum("n").over(wall).alias("tot_n"),
        F.count(F.lit(1)).over(wall).alias("tot_d"),
    )
    gain = F.round(
        F.col("cum_n") * F.log(F.col("cum_n") / F.col("k").cast("double"))
        + (F.col("tot_n") - F.col("cum_n"))
        * F.log(
            (F.col("tot_n") - F.col("cum_n"))
            / (F.col("tot_d") - F.col("k")).cast("double")
        )
        - F.col("tot_n") * F.log(F.col("tot_n") / F.col("tot_d").cast("double")),
        6,
    )
    scored = (
        c.where(
            (F.col("k") < F.col("tot_d"))
            & (F.col("cum_n") > 0)
            & (F.col("tot_n") - F.col("cum_n") > 0)
        )
        .withColumn("gain", gain)
    )
    return (
        scored.select(
            F.col("day").alias("split_after_day"),
            F.round(F.col("cum_n") / F.col("k").cast("double"), 4).alias("rate_left"),
            F.round(
                (F.col("tot_n") - F.col("cum_n"))
                / (F.col("tot_d") - F.col("k")).cast("double"),
                4,
            ).alias("rate_right"),
            F.col("gain").alias("loglik_gain"),
        )
        .orderBy(F.desc("loglik_gain"), F.asc("split_after_day"))
        .limit(1)
    )


@register(
    "stats_burstiness_index",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY event_type, user_id
                                                   ORDER BY ts, event_id)) AS gap
            FROM events
        ),
        s AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(round(gap, 3) AS DECIMAL(28,3))) AS DOUBLE) AS sg,
                   CAST(SUM(CAST(round(gap * gap, 3) AS DECIMAL(38,3))) AS DOUBLE)
                       AS sgg
            FROM g WHERE gap IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
               round((sqrt(greatest((sgg - sg * sg / n) / (n - 1), 0.0)) - sg / n)
                     / (sqrt(greatest((sgg - sg * sg / n) / (n - 1), 0.0)) + sg / n),
                     6) AS burstiness_b
        FROM s
    """,
    tags=("stats", "burstiness", "timeseries"),
)
def stats_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURSTINESS index B = (σ−μ)/(σ+μ) of per-user inter-arrival gaps,
    by event type (Goh & Barabási 2008): −1 = metronomic, 0 = Poisson,
    → +1 = extreme bursts — the bounded, comparable-across-scales
    version of the coefficient of variation (users_bot_score's CV is
    unbounded; B maps the same signal to [−1, 1] so types and cohorts
    compare directly).  Human activity runs B ≈ 0.2-0.6; the fixtures'
    Poisson-ish streams sit near 0, which is the honest null.

    Scale: per-(type, user) lag windows share the user-keyed exchange;
    one moment aggregate per type."""
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    ep = epoch("ts")
    g = load(spark, sf_dir, "events").select(
        "event_type", (ep - F.lag(ep).over(w)).alias("gap")
    )
    s = (
        g.where(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("gap", 3).cast("decimal(28,3)")).cast("double").alias("sg"),
            F.sum(F.round(F.col("gap") * F.col("gap"), 3).cast("decimal(38,3)"))
            .cast("double")
            .alias("sgg"),
        )
    )
    mu = F.col("sg") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            (F.col("sgg") - F.col("sg") * F.col("sg") / F.col("n")) / (F.col("n") - 1),
            F.lit(0.0),
        )
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness_b"),
    )


@register(
    "p95_rollup_hazard",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   round(quantile_cont(value, 0.95), 6) AS p95_day
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        ),
        rollup_avg AS (
            SELECT round(CAST(SUM(CAST(p95_day AS DECIMAL(28,6))) AS DOUBLE)
                         / COUNT(*), 6) AS avg_of_daily_p95
            FROM daily
        ),
        true_p95 AS (
            SELECT round(quantile_cont(value, 0.95), 6) AS global_p95
            FROM events WHERE event_type = 'purchase'
        )
        SELECT avg_of_daily_p95, global_p95,
               round(avg_of_daily_p95 - global_p95, 6) AS rollup_bias
        FROM rollup_avg CROSS JOIN true_p95
    """,
    tags=("stats", "percentile", "pitfall", "observability"),
)
def p95_rollup_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE p95 ROLLUP HAZARD, measured: the average of daily p95s next
    to the true global p95, with their gap — percentiles do NOT average
    (every observability vendor's dashboards quietly do it anyway), and
    this query pins the bias magnitude on real data so the claim is a
    number, not folklore.  The correct rollup is merging the underlying
    data (or mergeable sketches — agg_approx_percentile_eval); this
    emits the evidence for that rule.

    Scale: one per-day exact percentile pass + one global pass — the
    point is the comparison, not the compute."""
    base = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    daily = base.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_day")
    )
    ra = daily.agg(
        F.round(
            F.sum(F.col("p95_day").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_of_daily_p95")
    )
    tp = base.agg(
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("global_p95")
    )
    return ra.crossJoin(F.broadcast(tp)).select(
        "avg_of_daily_p95",
        "global_p95",
        F.round(F.col("avg_of_daily_p95") - F.col("global_p95"), 6).alias(
            "rollup_bias"
        ),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
        WITH v AS (
            SELECT value,
                   CASE WHEN date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', ts) AS DATE)) % 7 >= 5
                        THEN 1 ELSE 0 END AS is_weekend
            FROM events WHERE event_type = 'purchase'
        ),
        n AS (
            SELECT SUM(is_weekend) AS n1,
                   COUNT(*) - SUM(is_weekend) AS n0
            FROM v
        ),
        g AS (
            SELECT value,
                   SUM(is_weekend) AS k1,
                   COUNT(*) - SUM(is_weekend) AS k0
            FROM v GROUP BY value
        ),
        r AS (
            SELECT SUM(k1) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
                   SUM(k0) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0
            FROM g
        )
        SELECT CAST(n.n0 AS BIGINT) AS n_weekday,
               CAST(n.n1 AS BIGINT) AS n_weekend,
               round(MAX(abs(c0 / CAST(n.n0 AS DOUBLE)
                             - c1 / CAST(n.n1 AS DOUBLE))), 6) AS d_stat,
               CAST(MAX(abs(c0 / CAST(n.n0 AS DOUBLE)
                            - c1 / CAST(n.n1 AS DOUBLE)))
                    > 1.36 * sqrt((n.n0 + n.n1)
                                  / (n.n0 * CAST(n.n1 AS DOUBLE))) AS INT)
                   AS reject_same_dist_95
        FROM r CROSS JOIN n
        GROUP BY n.n0, n.n1
    """,
    tags=("stats", "ks_test", "two_sample"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE Kolmogorov-Smirnov: do weekend and weekday purchase
    values come from the same distribution?  D = max gap between the two
    empirical CDFs, evaluated at each DISTINCT pooled value after all
    ties at that value are consumed (the scipy.ks_2samp definition:
    per-value group counts aggregated first, then one cumulative sum —
    stepping row-by-row through cross-group ties would overstate D at
    intermediate points inside a tied value), against the
    1.36·√((n₀+n₁)/n₀n₁) 95% line.  Distribution-free — catches shape
    differences (bimodality, tail weight) that the mean-only Welch test
    (stats_welch_ttest) is blind to; weekday/weekend via the
    convention-free Monday-epoch modulus.

    Scale: the per-value pre-aggregation shrinks the global sort to
    distinct values (range-partition + offset prefix sums at 100 TB, as
    with the one-sample KS)."""
    is_wknd = (
        (
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("1970-01-05").cast("date"),
            )
            % 7
            >= 5
        )
        .cast("int")
        .alias("is_weekend")
    )
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("value", is_wknd)
    )
    n = v.agg(
        F.sum("is_weekend").alias("n1"),
        (F.count(F.lit(1)) - F.sum("is_weekend")).alias("n0"),
    )
    g = v.groupBy("value").agg(
        F.sum("is_weekend").alias("k1"),
        (F.count(F.lit(1)) - F.sum("is_weekend")).alias("k0"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        F.sum("k1").over(w).alias("c1"),
        F.sum("k0").over(w).alias("c0"),
    )
    d = F.abs(
        F.col("c0") / F.col("n0").cast("double")
        - F.col("c1") / F.col("n1").cast("double")
    )
    crit = 1.36 * F.sqrt(
        (F.col("n0") + F.col("n1")) / (F.col("n0") * F.col("n1").cast("double"))
    )
    return (
        r.crossJoin(F.broadcast(n))
        .groupBy("n0", "n1")
        .agg(F.max(d).alias("dmax"))
        .select(
            F.col("n0").cast("bigint").alias("n_weekday"),
            F.col("n1").cast("bigint").alias("n_weekend"),
            F.round("dmax", 6).alias("d_stat"),
            (F.col("dmax") > crit).cast("int").alias("reject_same_dist_95"),
        )
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
        WITH v AS (
            SELECT value,
                   CASE WHEN date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', ts) AS DATE)) % 7 >= 5
                        THEN 1 ELSE 0 END AS grp
            FROM events WHERE event_type = 'purchase'
        ),
        ranked AS (
            SELECT grp, value,
                   RANK() OVER (ORDER BY value) AS r,
                   COUNT(*) OVER (PARTITION BY value) AS t
            FROM v
        ),
        s AS (
            SELECT
                CAST(SUM(CASE WHEN grp = 1
                              THEN CAST(r AS DECIMAL(28,1)) + (t - 1) / 2.0
                         END) AS DOUBLE) AS r1,
                SUM(grp) AS n1,
                COUNT(*) - SUM(grp) AS n0,
                COUNT(*) AS nn
            FROM ranked
        ),
        ties AS (
            SELECT CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
                       AS tie_term
            FROM (SELECT COUNT(*) AS t FROM v GROUP BY value)
        )
        SELECT CAST(n0 AS BIGINT) AS n_weekday,
               CAST(n1 AS BIGINT) AS n_weekend,
               round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
               round((r1 - n1 * (n1 + 1) / 2.0 - n0 * n1 / 2.0)
                     / sqrt(n0 * n1 / 12.0
                            * ((nn + 1) - tie_term / (nn * (nn - 1.0)))), 4)
                   AS z_stat
        FROM s CROSS JOIN ties
    """,
    tags=("stats", "mann_whitney", "nonparametric"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U (rank-sum) on weekend vs weekday purchase values:
    tie-corrected average ranks, U = R₁ − n₁(n₁+1)/2, and the
    normal-approximation z — the LOCATION-shift nonparametric test
    pairing with stats_ks_two_sample's shape test (U asks "does one
    group tend to be larger", KS asks "are the distributions the
    same AT ALL"; they disagree exactly when spread changes but medians
    don't).  Average ranks come from RANK() + (tie_count−1)/2 — no
    dense re-ranking pass.

    Scale: one global rank window over the pooled values (the KS
    sort, reused), a per-value tie histogram, and scalar algebra."""
    is_wknd = (
        (
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("1970-01-05").cast("date"),
            )
            % 7
            >= 5
        )
        .cast("int")
        .alias("grp")
    )
    v = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("value", is_wknd)
    )
    ranked = v.select(
        "grp",
        "value",
        F.rank().over(Window.orderBy("value")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("value")).alias("t"),
    )
    s = ranked.agg(
        F.sum(
            F.when(
                F.col("grp") == 1,
                F.col("r").cast("decimal(28,1)") + (F.col("t") - 1) / 2.0,
            )
        )
        .cast("double")
        .alias("r1"),
        F.sum("grp").alias("n1"),
        (F.count(F.lit(1)) - F.sum("grp")).alias("n0"),
        F.count(F.lit(1)).alias("nn"),
    )
    ties = (
        v.groupBy("value")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("double")
            .alias("tie_term")
        )
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    sigma = F.sqrt(
        F.col("n0")
        * F.col("n1")
        / 12.0
        * (
            (F.col("nn") + 1)
            - F.col("tie_term") / (F.col("nn") * (F.col("nn") - F.lit(1.0)))
        )
    )
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("n0").cast("bigint").alias("n_weekday"),
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - F.col("n0") * F.col("n1") / 2.0) / sigma, 4).alias("z_stat"),
    )


@register(
    "scan_statistic_errors",
    oracle="""
        WITH e AS (
            SELECT ts FROM events WHERE event_type = 'error'
        ),
        fan AS (
            SELECT CAST(to_timestamp((floor(epoch(ts) / 300) - g.k) * 300)
                        AS TIMESTAMP) AS win_start
            FROM e, unnest(range(12)) AS g(k)
        ),
        wins AS (
            SELECT win_start, COUNT(*) AS n_errors
            FROM fan GROUP BY win_start
        )
        SELECT win_start, CAST(n_errors AS BIGINT) AS n_errors
        FROM wins
        ORDER BY n_errors DESC, win_start
        LIMIT 5
    """,
    tags=("stats", "scan_statistic", "incident"),
)
def scan_statistic_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCAN STATISTIC: the 5 worst 1-hour windows (slid at 5-minute
    steps) by error count — the incident-detection maximum that fixed
    hourly buckets UNDERCOUNT whenever a burst straddles a boundary (a
    10:58-11:07 spike splits across two calendar hours; some sliding
    window contains all of it).  Each error fans out to the 12 sliding
    windows that cover it — the bounded window/step fan-out rewrite
    (window_rolling_percentile_7d's trick at incident timescale), never
    a per-window rescan.

    Scale: ×12 map-side fan-out on the error slice only (already
    filtered), one window-keyed count, a 5-row top-k."""
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("ts")
    )
    fan = e.select(
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"), "ts"
    ).select(
        F.timestamp_seconds(
            (F.floor(epoch("ts") / 300) - F.col("k")) * 300
        ).alias("win_start")
    )
    return (
        fan.groupBy("win_start")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_errors"))
        .orderBy(F.desc("n_errors"), F.asc("win_start"))
        .limit(5)
    )


@register(
    "numeric_precision_audit",
    oracle="""
        WITH probes AS (
            SELECT 'lineitem.l_quantity' AS col, l_quantity AS v FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT 'orders.o_totalprice', o_totalprice FROM orders
            UNION ALL
            SELECT 'events.value', value FROM events
        )
        SELECT col,
               COUNT(*) AS n,
               CAST(COUNT(*) FILTER (v = floor(v)) AS BIGINT) AS n_integral,
               CAST(COUNT(*) FILTER (v * 100 = floor(v * 100)) AS BIGINT)
                   AS n_cents_exact,
               CASE WHEN COUNT(*) FILTER (v = floor(v)) = COUNT(*)
                    THEN 'BIGINT'
                    WHEN COUNT(*) FILTER (v * 100 = floor(v * 100)) = COUNT(*)
                    THEN 'DECIMAL(18,2)'
                    ELSE 'DOUBLE' END AS recommended_type
        FROM probes GROUP BY col
    """,
    tags=("data_quality", "schema", "precision"),
)
def numeric_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUMERIC PRECISION audit: for each double-typed measure, how many
    values are exactly integral or exactly cent-precision — columns
    that are 100% integral or 100% 2-dp are DECIMAL/BIGINT stored as
    DOUBLE, the schema smell behind every float-summation
    nondeterminism this repo's decimal idiom works around; the
    recommended_type column is the migration the audit justifies.
    (The v·100 = floor(v·100) test is exact for cent-valued doubles:
    both sides compute the same IEEE values in both engines.)

    Scale: map-side predicates, one count per probed column; each
    relation scans only its probed column."""
    probes = None
    for label, table, col in (
        ("lineitem.l_quantity", "lineitem", "l_quantity"),
        ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
        ("orders.o_totalprice", "orders", "o_totalprice"),
        ("events.value", "events", "value"),
    ):
        p = load(spark, sf_dir, table).select(
            F.lit(label).alias("col"), F.col(col).alias("v")
        )
        probes = p if probes is None else probes.unionAll(p)
    n_int = F.count(F.when(F.col("v") == F.floor("v"), 1))
    n_cents = F.count(F.when(F.col("v") * 100 == F.floor(F.col("v") * 100), 1))
    return probes.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        n_int.cast("bigint").alias("n_integral"),
        n_cents.cast("bigint").alias("n_cents_exact"),
        F.when(n_int == F.count(F.lit(1)), "BIGINT")
        .when(n_cents == F.count(F.lit(1)), "DECIMAL(18,2)")
        .otherwise("DOUBLE")
        .alias("recommended_type"),
    )


@register(
    "categorical_drift_dow",
    oracle="""
        WITH d AS (
            SELECT date_diff('day', DATE '1970-01-05',
                             CAST(date_trunc('day', o_orderdate) AS DATE)) % 7
                       AS dow,
                   CASE WHEN year(o_orderdate) = 1996 THEN 0 ELSE 1 END AS half
            FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        ),
        cell AS (
            SELECT dow,
                   COUNT(*) FILTER (half = 0) AS a,
                   COUNT(*) FILTER (half = 1) AS b
            FROM d GROUP BY dow
        ),
        tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM cell)
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(a AS BIGINT) AS n_1996,
               CAST(b AS BIGINT) AS n_1997,
               round((a / CAST(ta AS DOUBLE) - b / CAST(tb AS DOUBLE))
                     * (a / CAST(ta AS DOUBLE) - b / CAST(tb AS DOUBLE))
                     / ((a + b) / CAST(ta + tb AS DOUBLE)), 8) AS chi2_contrib
        FROM cell CROSS JOIN tot
    """,
    tags=("stats", "drift", "categorical", "homogeneity"),
)
def categorical_drift_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL drift: the weekday MIX of orders in 1996 vs 1997 as
    per-cell homogeneity contributions — the composition-shift test for
    discrete features (stats_psi_value_drift handles numeric
    distributions; category mixes need the two-sample proportion form),
    catching e.g. a B2B shift (weekday-heavy) masquerading as flat
    volume.  Monday-epoch dow keeps both engines on one convention.

    Scale: one (dow, year) conditional count, a 1-row total broadcast,
    7 output rows."""
    d = (
        load(spark, sf_dir, "orders")
        .where(F.year("o_orderdate").isin(1996, 1997))
        .select(
            (
                F.datediff(
                    F.date_trunc("day", "o_orderdate").cast("date"),
                    F.lit("1970-01-05").cast("date"),
                )
                % 7
            ).alias("dow"),
            F.when(F.year("o_orderdate") == 1996, 0).otherwise(1).alias("half"),
        )
    )
    cell = d.groupBy("dow").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("a"),
        F.count(F.when(F.col("half") == 1, 1)).alias("b"),
    )
    tot = cell.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    pa = F.col("a") / F.col("ta").cast("double")
    pb = F.col("b") / F.col("tb").cast("double")
    pool = (F.col("a") + F.col("b")) / (F.col("ta") + F.col("tb")).cast("double")
    return cell.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("bigint").alias("dow"),
        F.col("a").cast("bigint").alias("n_1996"),
        F.col("b").cast("bigint").alias("n_1997"),
        F.round((pa - pb) * (pa - pb) / pool, 8).alias("chi2_contrib"),
    )
