"""Extended aggregation surface: arg-max/min, sorted array aggregation,
conditional/boolean aggregates, statistical moments, and correlated
EXISTS subqueries through the spark.sql surface (SURVEY.md X6/X7/X13
widening).

Cross-engine exactness notes (the whole point of this module):
- arg_max keys are collapsed to one exact BIGINT so Spark ``max_by`` and
  DuckDB ``arg_max`` agree even under acctbal ties.
- Spark's skewness/kurtosis are *population* moments (g1, excess g2);
  DuckDB's are *sample* moments (G1, G2). The queries convert g→G with
  the standard bias-correction identities so both engines report the
  same statistic by definition, not by luck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register_views, table
from ..functions.exact import cents, dsum, md5_long
from ..registry import query

# acctbal cents ≤ ~10^8, custkey < 10^7 at demo scales → key < 2^63.
_ARGMAX_ORACLE = """
SELECT
    c_nationkey,
    arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey)
        AS richest_customer,
    arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey)
        AS poorest_customer,
    CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        AS max_acctbal
FROM customer
GROUP BY c_nationkey
"""


@query("agg_argmax", oracle=_ARGMAX_ORACLE)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: arg-max/arg-min aggregation (max_by/min_by) — "who holds the
    extreme value per group" without a join-back or window. The ordering
    key folds (acctbal_cents, custkey) into one exact BIGINT so ties
    break identically in both engines. One partial+final hash agg, no
    second pass over the fact table."""
    c = table(spark, sf_dir, "customer")
    key = (
        cents("c_acctbal") * 10_000_000
        + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest_customer"),
        F.min_by("c_name", key).alias("poorest_customer"),
        (F.max(cents("c_acctbal")) / 100.0)
        .cast("double")
        .alias("max_acctbal"),
    )


_COLLECT_ORACLE = """
SELECT
    event_type,
    CAST(to_json(list_sort(list(DISTINCT user_id))) AS VARCHAR)
                                             AS users,
    CAST(len(list(DISTINCT user_id)) AS INT) AS n_users,
    CAST(to_json(list_sort(list(event_id))) AS VARCHAR)
                                             AS sampled_events
FROM events
WHERE event_id % 13 = 0
GROUP BY event_type
"""


@query("agg_collect_arrays", oracle=_COLLECT_ORACLE)
def agg_collect_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/X13: array aggregation — collect_set/collect_list are
    unordered across partitions, so every collected array is array_sort'd
    before leaving the operator (the only way collection is deterministic
    on a cluster). Bounded by the sampling filter: collecting an
    unbounded group into one array is an anti-pattern at 100 TB.

    The sorted arrays leave the query boundary as compact JSON strings
    (``to_json`` both engines): the driver's canonicalizer sorts raw
    cells with pandas, which cannot hash list cells — serializing makes
    every output cell a hashable scalar while remaining lossless."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    return ev.groupBy("event_type").agg(
        F.to_json(F.array_sort(F.collect_set("user_id"))).alias("users"),
        F.size(F.collect_set("user_id")).alias("n_users"),
        F.to_json(F.array_sort(F.collect_list("event_id"))).alias(
            "sampled_events"
        ),
    )


_CONDITIONAL_ORACLE = """
SELECT
    user_id % 10                                   AS cohort,
    CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT)  AS n_high_value,
    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                                                   AS n_purchases,
    bool_and(value >= 0)                           AS all_nonneg,
    bool_or(event_type = 'error')                  AS any_error,
    CAST(SUM(CAST(round(value * 100) AS BIGINT))
         FILTER (WHERE event_type = 'purchase') / 100.0 AS DOUBLE)
                                                   AS purchase_value
FROM events
GROUP BY user_id % 10
"""


@query("agg_conditional", oracle=_CONDITIONAL_ORACLE)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: conditional and boolean aggregates (count_if / bool_and /
    bool_or / filtered sum) — one pass, one shuffle on the derived
    cohort key; every FILTER clause folds into the same hash-agg."""
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")
    is_purchase = F.col("event_type") == "purchase"
    return ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count_if(F.col("value") > 50).alias("n_high_value"),
        F.count_if(is_purchase).alias("n_purchases"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "error").alias("any_error"),
        (F.sum(F.when(is_purchase, value_c)) / 100.0)
        .cast("double")
        .alias("purchase_value"),
    )


_MOMENTS_ORACLE = """
SELECT
    event_type,
    CAST(COUNT(*) AS BIGINT)            AS n,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 / COUNT(*) AS DOUBLE)
                                        AS mean_value,
    round(stddev_samp(value), 6)        AS sd,
    round(var_samp(value), 6)           AS variance,
    round(skewness(value), 6)           AS skew,
    round(kurtosis(value), 6)           AS kurt,
    round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_user
FROM events
GROUP BY event_type
"""


@query("agg_moments", oracle=_MOMENTS_ORACLE)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: statistical moments. Spark's skewness/kurtosis are population
    moments; the query applies the textbook bias corrections
    (G1 = g1·√(n(n−1))/(n−2),
    G2 = (n−1)/((n−2)(n−3))·((n+1)·g2 + 6)) so the output matches the
    sample-moment definition DuckDB uses. Results rounded to 6 dp: the
    one-pass M2/M4 merge is summation-order sensitive in the last ulps
    on any parallel engine."""
    ev = table(spark, sf_dir, "events")
    n = F.count(F.lit(1)).cast("double")
    g1 = F.skewness("value")
    g2 = F.kurtosis("value")
    sample_skew = g1 * F.sqrt(n * (n - 1)) / (n - 2)
    sample_kurt = (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6)
    value_c = cents("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(value_c) / 100.0 / F.count(F.lit(1))).cast("double").alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_samp("value"), 6).alias("variance"),
        F.round(sample_skew, 6).alias("skew"),
        F.round(sample_kurt, 6).alias("kurt"),
        F.round(F.corr("value", F.col("user_id").cast("double")), 6).alias(
            "corr_user"
        ),
    )


_EXISTS_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c.c_custkey
          AND o2.o_orderstatus = 'F'
      )
"""


@query("subquery_exists", oracle=_EXISTS_SQL)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 via the SQL surface: correlated EXISTS / NOT EXISTS, run as-is
    through spark.sql — Catalyst decorrelates both predicates into a
    left-semi and a left-anti hash join on o_custkey (asserted in
    tests/test_plan_quality.py); the identical ANSI text is the oracle.
    """
    # Canonical views through the memoized registrar (an ad-hoc bind
    # of a subset desyncs its ident memo — r12 optimization round).
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_REGR_ORACLE = """
SELECT
    event_type,
    CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT)  AS n,
    round(regr_slope(value, CAST(user_id AS DOUBLE)), 6)        AS slope,
    round(regr_intercept(value, CAST(user_id AS DOUBLE)), 6)    AS intercept,
    round(regr_r2(value, CAST(user_id AS DOUBLE)), 6)           AS r2,
    round(regr_avgx(value, CAST(user_id AS DOUBLE)), 6)         AS avg_x,
    round(regr_avgy(value, CAST(user_id AS DOUBLE)), 6)         AS avg_y
FROM events
GROUP BY event_type
"""


@query("agg_regression", oracle=_REGR_ORACLE)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: SQL-standard linear-regression aggregates (slope / intercept /
    R² / means) per group — one pass, same partial+final hash-agg shape
    as sum/avg. Rounded to 6 dp: the co-moment merges are summation-order
    sensitive in the last ulps on any parallel engine."""
    ev = table(spark, sf_dir, "events")
    y, x = "value", F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
    )


# --------------------------------------------------------------------------
# Single-pass column profiler (data-quality summary)
# --------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT
    CAST(COUNT(*) AS BIGINT)                       AS n_rows,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT)      AS n_customers,
    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)  AS n_statuses,
    CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT)    AS null_custkey,
    min(o_orderdate)                               AS min_orderdate,
    max(o_orderdate)                               AS max_orderdate,
    CAST(min(o_totalprice) AS DOUBLE)              AS min_price,
    CAST(max(o_totalprice) AS DOUBLE)              AS max_price,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
                                                   AS sum_price
FROM orders
"""


@query("profile_orders", oracle=_PROFILE_ORACLE)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiler: one pass over the table computes row count,
    per-column distinct counts, null counts, min/max ranges, and an exact
    sum — the summary every ingest job should emit before data is
    trusted downstream.

    Plan shape: two COUNT(DISTINCT)s over different columns force an
    Expand (one row replicated per distinct-group), but the pass over
    the table is still single-scan, partial-aggregated map-side, and the
    final state is O(distinct values), not O(rows). min/max of doubles
    and timestamps are order-insensitive, so only the sum needs the
    scaled-integer treatment for cross-engine exactness.
    """
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Fixed-width histogram (binned aggregation)
# --------------------------------------------------------------------------

_HISTOGRAM_BIN_WIDTH = 5000.0

_HISTOGRAM_ORACLE = f"""
SELECT
    CAST(floor(l_extendedprice / {_HISTOGRAM_BIN_WIDTH}) AS BIGINT) AS price_bin,
    CAST(floor(l_extendedprice / {_HISTOGRAM_BIN_WIDTH}) * {_HISTOGRAM_BIN_WIDTH}
         AS DOUBLE)                                                 AS bin_lo,
    CAST(COUNT(*) AS BIGINT)                                        AS n_items,
    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
         AS DOUBLE)                                                 AS total_qty,
    MIN(l_extendedprice)                                            AS min_price,
    MAX(l_extendedprice)                                            AS max_price
FROM lineitem
GROUP BY 1, 2
"""


@query("agg_histogram_bins", oracle=_HISTOGRAM_ORACLE)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of line-item prices — the binned aggregate
    behind every distribution dashboard and data-profiling pass. The bin
    id is floor(price/width): a narrow scan-inline expression, so the
    histogram is ONE partial-aggregated shuffle whose state is
    O(distinct bins), not O(rows) — the same plan at sf0.01 and 100 TB.
    min/max per bin are order-insensitive; the quantity sum uses exact
    integer cents; the bin boundary itself is a single IEEE divide+floor
    on identical doubles, so bin assignment is engine-exact.
    """
    li = table(spark, sf_dir, "lineitem")
    bin_id = F.floor(F.col("l_extendedprice") / _HISTOGRAM_BIN_WIDTH).cast("long")
    return (
        li.groupBy(
            bin_id.alias("price_bin"),
            (bin_id * _HISTOGRAM_BIN_WIDTH).cast("double").alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("total_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


# --------------------------------------------------------------------------
# Robust outlier screen — median / MAD (median absolute deviation)
# --------------------------------------------------------------------------

_MAD_K = 1.4826  # consistency constant: MAD·k estimates σ under normality

_ROBUST_MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m USING (event_type)
),
madt AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type, d.med, t.mad,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN d.adev > 3 * {_MAD_K} * t.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN madt t USING (event_type)
GROUP BY d.event_type, d.med, t.mad
"""


@query("agg_robust_mad", oracle=_ROBUST_MAD_ORACLE)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median + MAD (median of
    absolute deviations), flagging values beyond 3 robust sigmas
    (MAD·1.4826). Unlike the mean/stddev z-score (anomaly_rolling_zscore),
    the 50% breakdown point means the screen itself cannot be dragged by
    the outliers it hunts — the data-quality filter of choice for heavy-
    tailed telemetry.

    Exactness: exact interpolated percentile is engine-identical on
    identical doubles (established by percentile_stats), deviations and
    the 3·k·MAD threshold are single fixed IEEE expressions, counts are
    integers. Shape: two passes over the fact stream (median, then
    deviation median + screen), each a partial-aggregated shuffle on the
    low-cardinality type key with the tiny per-type medians broadcast
    back — O(groups) state, no sort of the full data.
    """
    ev = table(spark, sf_dir, "events")
    # The per-type medians are dust reused by both deviation passes —
    # lazily checkpointed so the median pass's scan+percentile subtree
    # isn't compiled (and re-executed) once per consumer. The three
    # remaining fact scans are the algorithm's honest passes (median,
    # deviation median, screen).
    med = (
        ev.groupBy("event_type")
        .agg(F.percentile("value", 0.5).alias("med"))
        .localCheckpoint(eager=False)
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(  # bounded: enum/bucket-keyed rollup (bounded group count)
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    madt = (
        dev.groupBy("event_type")
        .agg(F.percentile("adev", 0.5).alias("mad"))
        .localCheckpoint(eager=False)
    )
    return (
        dev.join(F.broadcast(madt), "event_type")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * _MAD_K * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Equi-depth histogram (quantile-bucketed aggregation)
# --------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH b AS (
    SELECT quantile_cont(o_totalprice, 0.25) AS q1,
           quantile_cont(o_totalprice, 0.50) AS q2,
           quantile_cont(o_totalprice, 0.75) AS q3
    FROM orders
)
SELECT
    CAST(CASE WHEN o.o_totalprice <= b.q1 THEN 0
              WHEN o.o_totalprice <= b.q2 THEN 1
              WHEN o.o_totalprice <= b.q3 THEN 2
              ELSE 3 END AS BIGINT)     AS bucket,
    CAST(COUNT(*) AS BIGINT)            AS n_orders,
    MIN(o.o_totalprice)                 AS lo,
    MAX(o.o_totalprice)                 AS hi,
    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0
         AS DOUBLE)                     AS total_price
FROM orders o CROSS JOIN b
GROUP BY 1
"""


@query("agg_equidepth_buckets", oracle=_EQUIDEPTH_ORACLE)
def agg_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram of order totals — the profiling
    companion to the fixed-width agg_histogram_bins, and the statistic
    behind range-partitioning boundaries and optimizer histograms.

    A global ``ntile(4)`` window would funnel the whole table through
    one sorted partition; instead the three quartile BOUNDARIES come
    from one exact-percentile aggregate (O(1) rows out) and join back as
    a broadcast, so binning is a scan-inline CASE and the final count is
    one partial-aggregated shuffle of 4-row state. Same answer, no
    global sort — the plan that survives 100 TB.

    Exactness: interpolated percentiles are engine-identical on
    identical doubles; boundary comparisons then agree bit-for-bit, and
    min/max/integer-cent sums are order-insensitive.
    """
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.50).alias("q2"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        o.crossJoin(F.broadcast(b))  # bounded: 1-row global aggregate
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey AS custkey,
           MAX(o_orderdate)              AS last_order,
           COUNT(*)                      AS frequency,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
    FROM orders GROUP BY o_custkey
),
b AS (
    SELECT quantile_cont(CAST(frequency AS DOUBLE), 0.5)      AS f_med,
           quantile_cont(CAST(monetary_cents AS DOUBLE), 0.5) AS m_med,
           MAX(last_order)                                    AS corpus_last
    FROM per_cust
)
SELECT p.custkey,
       CAST(date_diff('day', p.last_order, b.corpus_last) AS BIGINT)
           AS recency_days,
       CAST(p.frequency AS BIGINT) AS frequency,
       CAST(p.monetary_cents / 100.0 AS DOUBLE) AS monetary,
       CASE WHEN date_diff('day', p.last_order, b.corpus_last) <= 30
            THEN 'active' ELSE 'lapsed' END AS r_seg,
       CASE WHEN CAST(p.frequency AS DOUBLE) >= b.f_med
            THEN 'hi' ELSE 'lo' END AS f_seg,
       CASE WHEN CAST(p.monetary_cents AS DOUBLE) >= b.m_med
            THEN 'hi' ELSE 'lo' END AS m_seg
FROM per_cust p CROSS JOIN b
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics deliverable:
    per-customer recency (days since last order, anchored to the corpus
    max so the query is reproducible), frequency, monetary total, each
    cut into segments against corpus-level thresholds.

    Shape: one per-customer aggregate (partial-aggregated shuffle on
    custkey), then the three thresholds collapse to a 1-ROW broadcast
    joined back — segmenting 100 TB of customers never sorts or windows
    the full table. Exactness: medians on exact integer-derived doubles,
    date arithmetic in whole days, cents-integer monetary totals.
    """
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents("o_totalprice")).alias(
            "monetary_cents"
        ),
    )
    b = per_cust.agg(
        F.percentile(F.col("frequency").cast("double"), 0.5).alias("f_med"),
        F.percentile(F.col("monetary_cents").cast("double"), 0.5).alias("m_med"),
        F.max("last_order").alias("corpus_last"),
    )
    recency = F.datediff(
        F.col("corpus_last").cast("date"), F.col("last_order").cast("date")
    ).cast("long")
    return per_cust.crossJoin(F.broadcast(b)).select(  # bounded: 1-row global aggregate
        "custkey",
        recency.alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        (F.col("monetary_cents") / 100.0).cast("double").alias("monetary"),
        F.when(recency <= 30, "active").otherwise("lapsed").alias("r_seg"),
        F.when(
            F.col("frequency").cast("double") >= F.col("f_med"), "hi"
        ).otherwise("lo").alias("f_seg"),
        F.when(
            F.col("monetary_cents").cast("double") >= F.col("m_med"), "hi"
        ).otherwise("lo").alias("m_seg"),
    )


# --------------------------------------------------------------------------
# Market-basket affinity (co-occurrence + lift over the order fact)
# --------------------------------------------------------------------------

_BASKET_MIN_PAIRS = 3

_BASKET_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM items),
freq AS (SELECT part, COUNT(*) AS n_part FROM items GROUP BY part),
pairs AS (
    SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_together
    FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
    GROUP BY 1, 2
)
SELECT p.part_a, p.part_b,
       CAST(p.n_together AS BIGINT) AS n_together,
       CAST(fa.n_part AS BIGINT)    AS n_part_a,
       CAST(fb.n_part AS BIGINT)    AS n_part_b,
       CAST(p.n_together AS DOUBLE) * o.n / (fa.n_part * fb.n_part) AS lift
FROM pairs p
JOIN freq fa ON fa.part = p.part_a
JOIN freq fb ON fb.part = p.part_b
CROSS JOIN n_orders o
WHERE p.n_together >= {_BASKET_MIN_PAIRS}
"""


# Per-order item cap: bounds the in-row pair expansion at cap·(cap−1)/2
# per order on ANY data — the quadratic term a mega-basket would otherwise
# inject. Never binds on TPC-H (≤7 lines/order), so the oracle (which has
# no cap) still matches exactly; on real retail data the cap is the
# documented truncation: only each order's `cap` smallest part keys count.
_BASKET_ITEM_CAP = 64


@query("basket_affinity", oracle=_BASKET_ORACLE)
def basket_affinity(
    spark: SparkSession, sf_dir: str, pair_observation=None
) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in the same order,
    with lift = P(a,b) / (P(a)·P(b)) — the co-occurrence statistic
    behind recommendations and affinity analysis.

    Scale shape (round-4 rework, twice): ONE shuffle on orderkey builds
    per-order baskets (map-side-combined collect_set, capped at
    {_BASKET_ITEM_CAP} items); pairs generate IN-ROW from the sorted
    basket array (nested transform over suffix slices — a bounded
    cap²/2 expansion per order, never an items self-join) and collapse
    through the partial-aggregated pair shuffle with the
    n_together >= {_BASKET_MIN_PAIRS} support floor applied there; part
    frequencies aggregate off the same basket exchange (ReuseExchange)
    and join to the FLOORED pair table — tiny at that point, so AQE
    broadcasts it. An earlier form attached frequencies in-place with a
    per-part window before pairing; that forced a WindowExec sort over
    every exploded item and a regroup — measurably slower than letting
    the dust-sized post-floor joins do it. Lift is one IEEE expression
    over exact integers — engine-identical.

    ``pair_observation``: optional ``pyspark.sql.Observation``; when
    given, a count metric named ``pair_rows`` is attached to the
    exploded pair stage (after the in-row expansion, BEFORE the
    support-floor aggregate) so tests can assert the INTERMEDIATE
    volume equals the closed form Σ over orders of C(min(b, cap), 2) —
    the cap²/2 bound the item cap enforces, invisible to output-side
    assertions once the support floor prunes rare pairs.
    """
    li = table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part"))
        .groupBy("okey")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("part")), 1, _BASKET_ITEM_CAP
            ).alias("parts")
        )
    )
    # Static plans show 7 shuffles, but only 5 execute: AQE's
    # ReuseExchange rebuilds baskets ONCE (freq's branch becomes
    # `ReusedExchange [okey, buf]`) and fb rides freq's broadcast. This
    # branch is the one duplicate AQE does NOT collapse — by design:
    # the optimizer strips collect_set and prunes it to a one-column
    # distinct-okey count (8-byte keys, map-side partial), cheaper than
    # re-reading the fat basket exchange. All of this is pinned by
    # tests/test_plan_quality.py::test_basket_affinity_reuses_exchange.
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    # In-row pair expansion straight off the sorted basket array: for
    # each index i, pair parts[i] with every later element (suffix
    # slice) — sorted and duplicate-free, so part_a < part_b holds by
    # construction. No per-item window, no regroup: frequencies attach
    # AFTER the support floor, when the pair table is tiny.
    pair_arr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    exploded = baskets.select(F.explode(pair_arr).alias("p"))
    if pair_observation is not None:
        exploded = exploded.observe(
            pair_observation, F.count(F.lit(1)).alias("pair_rows")
        )
    pairs = (
        exploded.select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .filter(F.col("n_together") >= _BASKET_MIN_PAIRS)
    )
    freq = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    fa = freq.select(
        F.col("part").alias("part_a"), F.col("n_part").alias("n_part_a")
    )
    fb = freq.select(
        F.col("part").alias("part_b"), F.col("n_part").alias("n_part_b")
    )
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_orders))  # bounded: 1-row global aggregate
        .select(
            "part_a",
            "part_b",
            "n_together",
            "n_part_a",
            "n_part_b",
            (
                F.col("n_together").cast("double")
                * F.col("n")
                / (F.col("n_part_a") * F.col("n_part_b"))
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Mergeable HLL sketches — partial sketch per day, union across days
# --------------------------------------------------------------------------

_HLL_MERGE_ORACLE = """
SELECT
    event_type,
    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_daily_sketches,
    CAST(COUNT(DISTINCT user_id) AS BIGINT)          AS exact_users,
    TRUE                                             AS merged_within_2pct
FROM events
GROUP BY event_type
"""


@query("agg_hll_mergeable", oracle=_HLL_MERGE_ORACLE)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 at warehouse scale: MERGEABLE distinct-count sketches.

    agg_approx_distinct shows the one-shot HLL; this shows the property
    that actually matters at 100 TB — sketches are a commutative monoid,
    so per-partition/per-day partial sketches (built incrementally, e.g.
    by the nightly load) union into exact-of-the-sketch global estimates
    without ever re-touching raw data. Plan: one shuffle builds a
    Datasketches HLL per (event_type, day); a second tiny aggregation
    unions the ~days×types sketches per type. Re-aggregating yesterday's
    users is O(sketches), not O(events) — the pre-aggregated rollup
    pattern of sinks.refresh_daily_rollup extended to distinct counts.

    Gate discipline (the agg_approx_distinct pattern): the hashed cells
    carry the EXACT count plus an in-plan accuracy boolean
    |merged_estimate − exact| / exact ≤ 0.02, so the sketch estimate is
    correctness-checked without placing the engine-specific estimate
    value into the hash.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_daily_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
        <= 0.02
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_daily_sketches",
        "exact_users",
        within.alias("merged_within_2pct"),
    )


# --------------------------------------------------------------------------
# Exact global median WITHOUT a global sort — two-pass bucket counting
# --------------------------------------------------------------------------

_MEDIAN_BUCKET = 10_000  # cents per bucket ($100)

_MEDIAN_2PASS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(median(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
            AS DOUBLE) AS median_price
FROM orders
"""


@query("agg_exact_median_2pass", oracle=_MEDIAN_2PASS_ORACLE)
def agg_exact_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of a 100 TB column without ever globally
    sorting it — the selection-by-counting pattern (percentile_approx
    trades accuracy for one pass; this stays exact in two).

    Pass 1: one partial-aggregated shuffle counts rows per $100 value
    bucket — state is O(buckets), never O(rows). A running sum over the
    tiny bucket table locates which bucket holds each middle order
    statistic (k₁ = ⌈n/2⌉, k₂ = ⌈(n+1)/2⌉) and its rank WITHIN that
    bucket. The ≤2 target buckets and ranks are COLLECTED (4 scalars —
    the IVF-codebook discipline: a constant-size driver hop, never data)
    so pass 2 carries a LITERAL o_totalprice range that parquet
    row-group pruning can act on (`PushedFilters` — asserted in
    test_plan_quality); at 100 TB the second scan reads a sliver. Rows
    inside the slice rank per bucket (row_number over at most two
    bucket-sized groups) and the two picked values average into the
    median; integer cents make every step exact.

    The oracle is DuckDB's native median over the full column — the
    parity gate proves the counting decomposition selects exactly the
    middle order statistics.
    """
    o = table(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    vals = o.select(
        price_c.alias("x"), (price_c / _MEDIAN_BUCKET).cast("long").alias("b")
    )
    counts = vals.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "b",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_prev"),
    )
    n_row = vals.agg(F.count(F.lit(1)).alias("n"))
    # k1/k2: 1-based middle order statistics (equal when n is odd)
    targets = (
        cum.join(F.broadcast(n_row))  # bounded: 1-row global aggregate
        .withColumn("k1", (F.col("n") + 1) / 2)
        .withColumn("k2", (F.col("n") + 2) / 2)
        .select(
            "b",
            "cum_prev",
            "n",
            F.floor("k1").cast("long").alias("k1"),
            F.floor("k2").cast("long").alias("k2"),
            "cum",
        )
    )
    t1 = targets.filter(
        (F.col("cum") >= F.col("k1")) & (F.col("cum_prev") < F.col("k1"))
    ).select(
        F.col("b").alias("tb"),
        (F.col("k1") - F.col("cum_prev")).alias("trank"),
        "n",
    )
    t2 = targets.filter(
        (F.col("cum") >= F.col("k2")) & (F.col("cum_prev") < F.col("k2"))
    ).select(
        F.col("b").alias("tb"),
        (F.col("k2") - F.col("cum_prev")).alias("trank"),
        "n",
    )
    # Constant-size driver hop: ≤2 (bucket, rank) targets + n. Collecting
    # them lets pass 2 carry LITERAL predicates the parquet scan can
    # prune with — a join-based filter would re-read the whole column.
    picks = [
        (int(r["tb"]), int(r["trank"]), int(r["n"]))
        for r in t1.unionByName(t2).collect()
    ]
    n_total = picks[0][2]
    lo_b = min(p[0] for p in picks)
    hi_b = max(p[0] for p in picks)
    # Pushable superset range on the RAW column (price within the target
    # buckets ± one cent of slack for the round()); the exact bucket
    # predicate on derived cents trims it precisely.
    lo_price = (lo_b * _MEDIAN_BUCKET - 1) / 100.0
    hi_price = ((hi_b + 1) * _MEDIAN_BUCKET + 1) / 100.0
    second = table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= lo_price)
        & (F.col("o_totalprice") <= hi_price)
    )
    cents2 = cents("o_totalprice")
    vals2 = second.select(
        cents2.alias("x"), (cents2 / _MEDIAN_BUCKET).cast("long").alias("b")
    ).filter(F.col("b").isin([p[0] for p in picks]))
    wrank = Window.partitionBy("b").orderBy("x")
    ranked = vals2.withColumn("rn", F.row_number().over(wrank))
    pick_cond = None
    for tb, trank, _n in picks:
        cond = (F.col("b") == tb) & (F.col("rn") == trank)
        pick_cond = cond if pick_cond is None else (pick_cond | cond)
    # odd n → both targets are the same (bucket, rank) → ONE surviving
    # row whose mean is itself; even n → two rows, mean of the middles.
    # Plain mean covers both cases.
    chosen = ranked.filter(pick_cond)
    return chosen.agg(
        F.lit(n_total).cast("long").alias("n_rows"),
        (F.sum("x") / F.count(F.lit(1)) / 100.0)
        .cast("double")
        .alias("median_price"),
    )


# --------------------------------------------------------------------------
# ABC (Pareto 80/15/5) classification — global ranked prefix sum, segmented
# --------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey AS partkey,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_cents
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev_cents) AS t FROM rev),
cum AS (
    SELECT partkey, rev_cents,
           SUM(rev_cents) OVER (ORDER BY rev_cents DESC, partkey) AS cum_cents
    FROM rev
)
SELECT partkey,
       CAST(rev_cents / 100.0 AS DOUBLE) AS revenue,
       CAST(cum_cents AS BIGINT)         AS cum_cents,
       CASE WHEN CAST(cum_cents AS DOUBLE) / t <= 0.80 THEN 'A'
            WHEN CAST(cum_cents AS DOUBLE) / t <= 0.95 THEN 'B'
            ELSE 'C' END                 AS abc_class
FROM cum CROSS JOIN tot
"""


@query("abc_pareto_classes", oracle=_ABC_ORACLE)
def abc_pareto_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/15/5 Pareto) revenue classification of parts — the
    inventory-analysis staple: 'A' parts carry the first 80% of
    cumulative revenue, 'B' the next 15%, 'C' the tail.

    The textbook form is a prefix sum over the GLOBALLY sorted revenue
    ranking (the oracle) — a single-partition window at scale. The
    engine plan segments it (the concurrency_peak / skyline trick):
    per-part revenue aggregates once off the fact table; parts bucket by
    floor(log2(revenue)) — monotone in revenue, so descending buckets
    respect the global order; each bucket computes its local descending
    prefix sum in parallel; and only the per-bucket totals (≈64 rows)
    take a global window to produce each bucket's offset. cum =
    offset + local prefix, classified against the exact integer total.
    No step ever sorts more than one bucket on one executor.
    """
    li = table(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(price_c).alias("rev_cents")
    )
    bucketed = rev.withColumn(
        "bucket", F.floor(F.log2(F.greatest("rev_cents", F.lit(1))))
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("rev_cents"), "partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.withColumn("local_cum", F.sum("rev_cents").over(w_local))
    btot = bucketed.groupBy("bucket").agg(F.sum("rev_cents").alias("bsum"))
    w_prior = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior = btot.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(w_prior), F.lit(0)).alias("offset"),
    )
    tot = rev.agg(F.sum("rev_cents").alias("t"))
    cum = (
        local.join(F.broadcast(prior), "bucket")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .join(F.broadcast(tot))  # bounded: 1-row global aggregate
        .withColumn("cum_cents", F.col("offset") + F.col("local_cum"))
    )
    share = F.col("cum_cents").cast("double") / F.col("t")
    return cum.select(
        "partkey",
        (F.col("rev_cents") / 100.0).cast("double").alias("revenue"),
        F.col("cum_cents").cast("long"),
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --------------------------------------------------------------------------
# Exact percentile SET without a global sort — generalized 2-pass selection
# --------------------------------------------------------------------------

# Dyadic grid (k/8): (n-1)·p, its floor-fraction, and the interpolation
# weights are all EXACT binary fractions, so the linearly-interpolated
# percentile is bit-identical no matter which algebraic form an engine
# uses (lo + frac·(hi−lo) vs (1−frac)·lo + frac·hi). A 0.9 or 0.99 grid
# point would make frac inexact and the last ulp formula-dependent.
_PCTS = [0.125, 0.25, 0.5, 0.75, 0.875]


def _pct_oracle() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT {p} AS pct,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), {p})
            / 100.0 AS DOUBLE) AS value
FROM orders"""
        for p in _PCTS
    )
    return rows


@query("agg_exact_percentiles_2pass", oracle=_pct_oracle())
def agg_exact_percentiles_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles {_PCTS} of a 100 TB column with no
    global sort — agg_exact_median_2pass generalized to a percentile
    SET: one bucket-counting pass locates EVERY requested order
    statistic at once, one pruned pass picks them all.

    Pass 1 is the same O(buckets) counting shuffle; each percentile p
    needs ranks ⌊(n−1)p⌋+1 and +2 with weights (1−frac, frac) — all
    computed from the collected scalar n (constant driver hop). The ≤10
    (bucket, rank, weight) targets collect to literals, so pass 2
    carries one pushed o_totalprice range spanning only the target
    buckets, ranks within them, and a per-pct weighted sum emits each
    interpolated value. Exactness by the dyadic-grid argument above —
    the oracle is DuckDB's native quantile_cont, an entirely different
    implementation, and must agree to the last bit.
    """
    o = table(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    vals = o.select(
        price_c.alias("x"), (price_c / _MEDIAN_BUCKET).cast("long").alias("b")
    )
    counts = vals.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum_rows = counts.select(
        "b",
        F.sum("c").over(wcum).alias("cum"),
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_prev"),
    ).collect()  # O(buckets) rows — the same bounded state as pass 1
    n = max(r["cum"] for r in cum_rows)

    def bucket_of(k: int) -> tuple[int, int]:
        for r in cum_rows:
            if r["cum"] >= k and r["cum_prev"] < k:
                return int(r["b"]), int(k - r["cum_prev"])
        raise ValueError(f"rank {k} out of range")

    targets: list[tuple[float, int, int, float]] = []  # pct, b, rank, w
    for p in _PCTS:
        idx = (n - 1) * p  # exact: dyadic p × integer
        k_lo = int(idx // 1) + 1
        frac = idx - (k_lo - 1)
        targets.append((p, *bucket_of(k_lo), 1.0 - frac))
        if frac > 0:
            targets.append((p, *bucket_of(k_lo + 1), frac))

    lo_b = min(t[1] for t in targets)
    hi_b = max(t[1] for t in targets)
    second = table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= (lo_b * _MEDIAN_BUCKET - 1) / 100.0)
        & (F.col("o_totalprice") <= ((hi_b + 1) * _MEDIAN_BUCKET + 1) / 100.0)
    )
    cents2 = cents("o_totalprice")
    vals2 = second.select(
        cents2.alias("x"), (cents2 / _MEDIAN_BUCKET).cast("long").alias("b")
    ).filter(F.col("b").isin(sorted({t[1] for t in targets})))
    ranked = vals2.withColumn(
        "rn", F.row_number().over(Window.partitionBy("b").orderBy("x"))
    )
    tdf = spark.createDataFrame(
        targets, "pct double, tb long, trank long, w double"
    )
    picked = ranked.join(
        F.broadcast(tdf),  # bounded: query/probe-set dust (N_QUERIES-bounded)
        (ranked["b"] == tdf["tb"]) & (ranked["rn"] == tdf["trank"]),
    )
    return picked.groupBy("pct").agg(
        F.lit(n).cast("long").alias("n_rows"),
        (F.sum(F.col("x") * F.col("w")) / 100.0)
        .cast("double")
        .alias("value"),
    )


# --------------------------------------------------------------------------
# Winsorized mean — outlier-robust aggregation with exactly-selected bounds
# --------------------------------------------------------------------------

_WINSOR_LO = 0.125  # dyadic 1/8 and 7/8: (n-1)·p stays an exact fraction
_WINSOR_HI = 0.875

_WINSOR_ORACLE = f"""
WITH c AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS x
    FROM orders
),
ranked AS (
    SELECT x, row_number() OVER (ORDER BY x) AS rn, COUNT(*) OVER () AS n
    FROM c
),
bounds AS (
    SELECT
        MAX(CASE WHEN rn = CAST(floor((n - 1) * {_WINSOR_LO}) AS BIGINT) + 1
                 THEN x END) AS lo,
        MAX(CASE WHEN rn = CAST(floor((n - 1) * {_WINSOR_HI}) AS BIGINT) + 1
                 THEN x END) AS hi
    FROM ranked
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN x < b.lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clamped_low,
       CAST(SUM(CASE WHEN x > b.hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clamped_high,
       CAST(b.lo / 100.0 AS DOUBLE) AS lo_bound,
       CAST(b.hi / 100.0 AS DOUBLE) AS hi_bound,
       CAST(CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100.0 AS DOUBLE)
           AS mean_raw,
       CAST(CAST(SUM(LEAST(GREATEST(x, b.lo), b.hi)) AS DOUBLE)
            / COUNT(*) / 100.0 AS DOUBLE) AS mean_winsorized
FROM c, bounds b
GROUP BY o_orderpriority, b.lo, b.hi
ORDER BY o_orderpriority
"""


@query("agg_winsorized_mean", oracle=_WINSOR_ORACLE)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) mean per order priority, with the
    clamp bounds selected EXACTLY as the global 1/8 and 7/8 order
    statistics — the robust-aggregation tier between plain AVG and the
    median/MAD screens. Reports clamp counts on both tails and the raw
    vs winsorized means.

    Scale shape: the 2-pass selection discipline of
    agg_exact_median_2pass locates both bound ranks from ONE O(buckets)
    counting shuffle; the pick pass reads only the two target buckets
    behind a pushed o_totalprice range and collects TWO integer scalars
    (the IVF-codebook driver hop). The clamp pass is then a plain
    partial-aggregated group-by with the bounds folded in as literals —
    no join, no sort, and integer-cent clamping keeps every sum exact
    (the oracle's monolithic window formulation must agree bit-for-bit).
    """
    o = table(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    vals = o.select(
        price_c.alias("x"), (price_c / _MEDIAN_BUCKET).cast("long").alias("b")
    )
    counts = vals.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum_rows = counts.select(
        "b",
        F.sum("c").over(wcum).alias("cum"),
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_prev"),
    ).collect()
    n = max(r["cum"] for r in cum_rows)

    def bucket_of(k: int) -> tuple[int, int]:
        for r in cum_rows:
            if r["cum"] >= k and r["cum_prev"] < k:
                return int(r["b"]), int(k - r["cum_prev"])
        raise ValueError(f"rank {k} out of range")

    targets = [
        bucket_of(int((n - 1) * p // 1) + 1) for p in (_WINSOR_LO, _WINSOR_HI)
    ]
    tb = sorted({b for b, _ in targets})
    second = table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= (tb[0] * _MEDIAN_BUCKET - 1) / 100.0)
        & (F.col("o_totalprice") <= ((tb[-1] + 1) * _MEDIAN_BUCKET + 1) / 100.0)
    )
    cents2 = cents("o_totalprice")
    vals2 = second.select(
        cents2.alias("x"), (cents2 / _MEDIAN_BUCKET).cast("long").alias("b")
    ).filter(F.col("b").isin(tb))
    ranked = vals2.withColumn(
        "rn", F.row_number().over(Window.partitionBy("b").orderBy("x"))
    )
    picks: dict[tuple[int, int], int] = {}
    want = None
    for b, rk in targets:
        cond = (F.col("b") == F.lit(b)) & (F.col("rn") == F.lit(rk))
        want = cond if want is None else (want | cond)
    for row in ranked.filter(want).collect():
        picks[(row["b"], row["rn"])] = int(row["x"])
    lo_c, hi_c = (picks[t] for t in targets)

    clamped = F.least(F.greatest(F.col("x"), F.lit(lo_c)), F.lit(hi_c))
    return (
        o.select("o_orderpriority", price_c.alias("x"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("x") < lo_c).cast("long")).alias("n_clamped_low"),
            F.sum((F.col("x") > hi_c).cast("long")).alias("n_clamped_high"),
            F.lit(lo_c / 100.0).cast("double").alias("lo_bound"),
            F.lit(hi_c / 100.0).cast("double").alias("hi_bound"),
            (F.sum("x").cast("double") / F.count(F.lit(1)) / 100.0)
            .cast("double")
            .alias("mean_raw"),
            (F.sum(clamped).cast("double") / F.count(F.lit(1)) / 100.0)
            .cast("double")
            .alias("mean_winsorized"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# SLA attainment — fulfilment latency against tiered targets
# --------------------------------------------------------------------------

_SLA_ORACLE = """
WITH firstship AS (
    SELECT l_orderkey, MIN(l_shipdate) AS first_ship
    FROM lineitem GROUP BY 1
),
lat AS (
    SELECT o.o_orderpriority,
           date_diff('day', o.o_orderdate, f.first_ship) AS days
    FROM orders o JOIN firstship f ON f.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS met_30d,
       CAST(SUM(CASE WHEN days <= 60 THEN 1 ELSE 0 END) AS BIGINT)
           AS met_60d,
       CAST(SUM(CASE WHEN days <= 90 THEN 1 ELSE 0 END) AS BIGINT)
           AS met_90d,
       CAST(CAST(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS DOUBLE) AS sla_30d_rate
FROM lat
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("sla_fulfilment_attainment", oracle=_SLA_ORACLE)
def sla_fulfilment_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment: per priority class, how many orders had their
    FIRST shipment within 30/60/90 days of ordering — the operations
    dashboard's headline table. First-ship latency is a per-order MIN
    (one partial-aggregated shuffle on the fact), the orders join is
    key-clustered, and day differences are exact integer calendar
    arithmetic; the only double is one IEEE rate division.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    firstship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lat = o.join(firstship, o.o_orderkey == firstship.l_orderkey).select(
        "o_orderpriority",
        F.datediff("first_ship", "o_orderdate").alias("days"),
    )
    met = lambda d: F.sum((F.col("days") <= d).cast("long"))  # noqa: E731
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            met(30).alias("met_30d"),
            met(60).alias("met_60d"),
            met(90).alias("met_90d"),
            (met(30).cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias("sla_30d_rate"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Churn analysis — inactive customers by nation
# --------------------------------------------------------------------------

_CHURN_ORACLE = """
WITH lastorder AS (
    SELECT o_custkey, MAX(o_orderdate) AS last_order FROM orders GROUP BY 1
),
horizon AS (
    SELECT MAX(o_orderdate) - INTERVAL 12 MONTH AS cutoff FROM orders
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(CASE WHEN lo.last_order < h.cutoff THEN 1 ELSE 0 END)
            AS BIGINT) AS n_churned,
       CAST(CAST(SUM(CASE WHEN lo.last_order < h.cutoff THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS DOUBLE) AS churn_rate
FROM lastorder lo
JOIN customer c ON c.c_custkey = lo.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
CROSS JOIN horizon h
GROUP BY n.n_name
ORDER BY n.n_name
"""


@query("churn_rate_by_nation", oracle=_CHURN_ORACLE)
def churn_rate_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn analysis: customers whose LAST order predates the final
    12 months of the dataset's own horizon, rated per nation — the
    retention health table a revenue team reviews monthly. The horizon
    is data-derived (max order date − 12 months, one 1-row broadcast),
    so the query needs no wall-clock and stays reproducible.

    Scale shape: last-order is one custkey aggregation of the fact;
    customer joins on its key, the 25-row nation dim broadcasts, and
    the churn flag folds into the per-nation rollup map-side. Exact
    integer timestamp comparison; one IEEE rate division.
    """
    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    lastorder = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order")
    )
    # Mirror the oracle's INTERVAL arithmetic exactly by subtracting on
    # the TIMESTAMP (add_months would truncate to DATE semantics).
    horizon = o.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 12 MONTH")).alias("cutoff")
    )
    churned = (F.col("last_order") < F.col("cutoff")).cast("long")
    return (
        lastorder.join(cust, lastorder.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)  # bounded: fixed dim (nation 25 / region 5 rows)
        .crossJoin(F.broadcast(horizon))  # bounded: 1-row global aggregate
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.sum(churned).alias("n_churned"),
            (F.sum(churned).cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias("churn_rate"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# KMV (theta-style) sketch with SET OPERATIONS — what HLL cannot do
# --------------------------------------------------------------------------

_KMV_K = 128
_KMV_TYPES = ("click", "view", "purchase")
_KMV_PAIRS = (("click", "purchase"), ("view", "purchase"))
_KMV_SCALE = float(2**52)  # 13 hex digits → 52-bit hashes, double-exact

_KMV_TYPES_SQL = ", ".join(f"'{t}'" for t in _KMV_TYPES)
_KMV_PAIRS_SQL = " UNION ALL ".join(
    f"SELECT '{a}' AS set_a, '{b}' AS set_b" for a, b in _KMV_PAIRS
)

_KMV_ORACLE = f"""
WITH el AS (
    SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day
    FROM events WHERE event_type IN ({_KMV_TYPES_SQL})
),
hs AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR) || ':'
                            || CAST(day AS VARCHAR)), 1, 13))::BIGINT AS h
    FROM el
),
sk AS (
    SELECT event_type, h FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h)
            AS rn
        FROM hs) WHERE rn <= {_KMV_K}
),
est AS (
    SELECT event_type,
           CAST(round(({_KMV_K} - 1) * CAST({_KMV_SCALE} AS DOUBLE) / MAX(h)) AS BIGINT)
               AS est_n
    FROM (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM sk) WHERE rn = {_KMV_K}
    GROUP BY event_type
),
exact AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM el GROUP BY 1
),
pairs AS ({_KMV_PAIRS_SQL}),
merged AS (
    SELECT p.set_a, p.set_b, s.h,
           row_number() OVER (PARTITION BY p.set_a, p.set_b ORDER BY s.h)
               AS rn
    FROM pairs p
    JOIN (SELECT DISTINCT sk2.h, p2.set_a AS sa, p2.set_b AS sb
          FROM pairs p2
          JOIN sk sk2 ON sk2.event_type IN (p2.set_a, p2.set_b)) s
      ON s.sa = p.set_a AND s.sb = p.set_b
),
mk AS (SELECT set_a, set_b, h FROM merged WHERE rn <= {_KMV_K}),
u_est AS (
    SELECT set_a, set_b,
           CAST(round(({_KMV_K} - 1) * CAST({_KMV_SCALE} AS DOUBLE) / MAX(h)) AS BIGINT)
               AS est_union
    FROM merged WHERE rn = {_KMV_K} GROUP BY 1, 2
),
inter_k AS (
    SELECT m.set_a, m.set_b, CAST(COUNT(*) AS BIGINT) AS n_both
    FROM mk m
    WHERE EXISTS (SELECT 1 FROM sk WHERE event_type = m.set_a AND h = m.h)
      AND EXISTS (SELECT 1 FROM sk WHERE event_type = m.set_b AND h = m.h)
    GROUP BY 1, 2
),
exact_inter AS (
    SELECT p.set_a, p.set_b, CAST(COUNT(*) AS BIGINT) AS exact_inter
    FROM pairs p
    JOIN el a ON a.event_type = p.set_a
    JOIN el b ON b.event_type = p.set_b
             AND b.user_id = a.user_id AND b.day = a.day
    GROUP BY 1, 2
)
SELECT p.set_a, p.set_b,
       ea.exact_n AS exact_a, sa.est_n AS est_a,
       eb.exact_n AS exact_b, sb.est_n AS est_b,
       CAST(ea.exact_n + eb.exact_n - ei.exact_inter AS BIGINT)
           AS exact_union,
       ue.est_union,
       ei.exact_inter,
       CAST(round(ik.n_both * 1.0 / {_KMV_K} * ue.est_union) AS BIGINT)
           AS est_inter
FROM pairs p
JOIN exact ea ON ea.event_type = p.set_a
JOIN exact eb ON eb.event_type = p.set_b
JOIN est sa ON sa.event_type = p.set_a
JOIN est sb ON sb.event_type = p.set_b
JOIN u_est ue USING (set_a, set_b)
JOIN exact_inter ei USING (set_a, set_b)
JOIN inter_k ik USING (set_a, set_b)
ORDER BY set_a, set_b
"""


@query("agg_kmv_set_ops", oracle=_KMV_ORACLE)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-style bottom-k sketch with SET OPERATIONS — the
    sketch tier HLL cannot provide: audience UNION and INTERSECTION
    estimates (Beyer et al. 2007; the Theta sketch in Apache
    DataSketches). Elements are daily-active (user, day) pairs per
    event type; each set keeps its k={k} smallest 52-bit md5 hashes.
    Union of two sketches = bottom-k of the merged samples (the
    sketches are a mergeable monoid, like the HLL/CMS tiers);
    intersection via the standard Jaccard device — the fraction of the
    merged bottom-k present in BOTH input sketches, scaled by the union
    estimate. Exact companions ride along for every estimate, the
    agg_approx_distinct audit discipline.

    Cross-engine exactness: hashes are 13-hex md5 prefixes (52 bits —
    inside double mantissa, so (k−1)·2^52/h_k is exact-input IEEE in
    both engines), ranks break ties on the hash value itself (distinct
    → no ties), and every estimate rounds to an integer.

    Scale shape: one distinct collapses facts to elements; a salted
    per-(type, salt) bottom-k prunes each partition to ≤{k} rows BEFORE
    the per-type rank (bottom-k of bottom-ks ≡ global bottom-k — the
    sketch's own merge property, so the unsalted oracle formulation is
    provably identical), leaving every later stage on ≤ types×{k}
    rows of dust. The exact companions are the only corpus-sized
    aggregations — at 100 TB they are the cost the sketch removes, and
    the pattern deletes them once calibrated.
    """
    ev = table(spark, sf_dir, "events")
    # The element and sketch tables feed many downstream branches
    # (estimates, merges, membership probes, exact companions); truncate
    # lineage at each so the fact scan and the bottom-k ranks run ONCE
    # instead of once per branch (el ≤ distinct user-days — bounded;
    # sk ≤ types × k rows of dust).
    el = (
        ev.filter(F.col("event_type").isin(*_KMV_TYPES))
        .select(
            "event_type", "user_id", F.to_date("ts").alias("day")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = md5_long("kmv:", F.col("user_id"), ":", F.col("day"), digits=13)
    hs = el.select("event_type", h.alias("h")).distinct()
    # Two-stage bottom-k: per-(type, salt) prune first so no partition
    # ever sorts more than its own slice; provably equal to the global
    # bottom-k (any global bottom-k member is in its salt's bottom-k).
    pre_w = Window.partitionBy("event_type", F.col("h") % 8).orderBy("h")
    pruned = (
        hs.withColumn("prn", F.row_number().over(pre_w))
        .filter(F.col("prn") <= _KMV_K)
        .drop("prn")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .localCheckpoint(eager=False)
    )
    est = (
        sk.filter(F.col("rn") == _KMV_K)
        .groupBy("event_type")
        .agg(
            F.round((_KMV_K - 1) * _KMV_SCALE / F.max("h"))
            .cast("long")
            .alias("est_n")
        )
    )
    exact = el.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    pairs = spark.createDataFrame(
        list(_KMV_PAIRS), "set_a string, set_b string"
    )
    sk_h = sk.select("event_type", "h")
    merged_in = (
        pairs.join(
            sk_h,
            (F.col("event_type") == F.col("set_a"))
            | (F.col("event_type") == F.col("set_b")),
        )
        .select("set_a", "set_b", "h")
        .distinct()
    )
    mw = Window.partitionBy("set_a", "set_b").orderBy("h")
    merged = merged_in.withColumn("rn", F.row_number().over(mw))
    u_est = (
        merged.filter(F.col("rn") == _KMV_K)
        .groupBy("set_a", "set_b")
        .agg(
            F.round((_KMV_K - 1) * _KMV_SCALE / F.max("h"))
            .cast("long")
            .alias("est_union")
        )
    )
    mk = merged.filter(F.col("rn") <= _KMV_K).select("set_a", "set_b", "h")
    in_a = sk_h.select(
        F.col("event_type").alias("set_a"), F.col("h").alias("h")
    )
    in_b = sk_h.select(
        F.col("event_type").alias("set_b"), F.col("h").alias("h")
    )
    inter_k = (
        mk.join(in_a, ["set_a", "h"], "semi")
        .join(in_b, ["set_b", "h"], "semi")
        .groupBy("set_a", "set_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    el_a = el.select(
        F.col("event_type").alias("set_a"), "user_id", "day"
    )
    el_b = el.select(
        F.col("event_type").alias("set_b"), "user_id", "day"
    )
    exact_inter = (
        pairs.join(el_a, "set_a")
        .join(el_b, ["set_b", "user_id", "day"])
        .groupBy("set_a", "set_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    ea = exact.select(
        F.col("event_type").alias("set_a"), F.col("exact_n").alias("exact_a")
    )
    eb = exact.select(
        F.col("event_type").alias("set_b"), F.col("exact_n").alias("exact_b")
    )
    sa = est.select(
        F.col("event_type").alias("set_a"), F.col("est_n").alias("est_a")
    )
    sb = est.select(
        F.col("event_type").alias("set_b"), F.col("est_n").alias("est_b")
    )
    return (
        pairs.join(ea, "set_a")
        .join(eb, "set_b")
        .join(sa, "set_a")
        .join(sb, "set_b")
        .join(u_est, ["set_a", "set_b"])
        .join(exact_inter, ["set_a", "set_b"])
        .join(inter_k, ["set_a", "set_b"])
        .select(
            "set_a",
            "set_b",
            "exact_a",
            "est_a",
            "exact_b",
            "est_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            .cast("long")
            .alias("exact_union"),
            "est_union",
            "exact_inter",
            F.round(
                F.col("n_both") * 1.0 / _KMV_K * F.col("est_union")
            )
            .cast("long")
            .alias("est_inter"),
        )
        .orderBy("set_a", "set_b")
    )


agg_kmv_set_ops.__doc__ = agg_kmv_set_ops.__doc__.format(k=_KMV_K)


# --------------------------------------------------------------------------
# ANALYZE-style cross-table column statistics (CBO food)
# --------------------------------------------------------------------------

_TSTATS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_custkey", "o_orderstatus", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_returnflag", "l_linestatus"),
    "customer": ("c_nationkey", "c_mktsegment"),
    "documents": ("lang", "source"),
}

_TSTATS_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}' AS table_name, '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv
FROM {tbl}"""
    for tbl, cols in _TSTATS_COLS.items()
    for col in cols
) + "\nORDER BY table_name, column_name"


@query("catalog_table_stats", oracle=_TSTATS_ORACLE)
def catalog_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as a query:
    per tracked column, row count, null count, and exact NDV — the
    statistics a cost-based optimizer feeds on (join reordering,
    broadcast thresholds, selectivity estimates) and a data catalog
    publishes next to every table. Q1-parity companion to
    catalog_columns (names) and profile_orders (one table, deep).

    Scale shape: one partial-aggregated pass PER TABLE computes all of
    its columns' counts together (count_distinct per column rides the
    same scan; the distinct rewrite keys each on its own column), then
    an in-row unpivot emits one report row per column — columns add
    aggregates, not scans, and the report is O(columns).
    """
    parts = []
    for tbl, cols in _TSTATS_COLS.items():
        df = table(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs.append(F.count(c).alias(f"nn{i}"))
            aggs.append(F.count_distinct(c).alias(f"nd{i}"))
        one = df.agg(*aggs)
        rows = F.array(
            *[
                F.struct(
                    F.lit(tbl).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    F.col("__n").alias("n_rows"),
                    (F.col("__n") - F.col(f"nn{i}")).alias("n_nulls"),
                    F.col(f"nd{i}").alias("ndv"),
                )
                for i, c in enumerate(cols)
            ]
        )
        parts.append(one.select(F.explode(rows).alias("r")).select("r.*"))
    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, parts).orderBy(
        "table_name", "column_name"
    )
