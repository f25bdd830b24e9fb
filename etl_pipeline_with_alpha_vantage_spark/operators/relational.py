"""Core relational operator surface (SURVEY.md §2.C X1-X3, X6-X8, X11-X13).

Every query here is declarative DataFrame code — Catalyst handles predicate
pushdown, column pruning, join selection (broadcast vs sort-merge) and AQE
re-optimization. Aggregates over double measures use the scaled-integer
helpers from ``functions.exact`` so results hash-match the DuckDB oracle
bit-for-bit (see that module's docstring for why plain SUM(double) can't).

Scale notes are on each query: what shuffles, what broadcasts, what the
plan looks like at 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, davg, dsum, sql_davg, sql_dsum
from ..registry import query

# --------------------------------------------------------------------------
# X1 — filter / projection / predicates  (+ TPC-H Q6-style exact revenue agg)
# --------------------------------------------------------------------------

_FILTER_ORACLE = f"""
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    {sql_dsum('l_extendedprice')} AS sum_price,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS DOUBLE)
        AS revenue_discounted
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
  AND l_returnflag IN ('N', 'R')
"""


@query("filter_predicates", oracle=_FILTER_ORACLE)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: conjunctive range/IN predicates + Q6-style revenue.

    All five predicates are parquet-pushable (``PushedFilters`` in
    .explain) and only 5 columns are read — at 100 TB the scan prunes both
    row groups and columns before a single row reaches the executors.
    """
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 25)
        & F.col("l_returnflag").isin("N", "R")
    )
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return f.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        (F.sum(price_c * disc_c) / 10000.0).cast("double").alias("revenue_discounted"),
    )


# --------------------------------------------------------------------------
# X6 — hash aggregation (TPC-H Q1 pricing summary)
# --------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
    l_returnflag,
    l_linestatus,
    {sql_dsum('l_quantity')}            AS sum_qty,
    {sql_dsum('l_extendedprice')}       AS sum_base_price,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 1000000.0
         AS DOUBLE)                     AS sum_disc_price,
    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))
             * (100 + CAST(round(l_tax * 100) AS BIGINT))) / 100000000.0
         AS DOUBLE)                     AS sum_charge,
    {sql_davg('l_quantity')}            AS avg_qty,
    {sql_davg('l_extendedprice')}       AS avg_price,
    {sql_davg('l_discount')}            AS avg_disc,
    CAST(COUNT(*) AS BIGINT)            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: TPC-H Q1 — wide hash aggregation with derived measures.

    Partial (map-side) aggregation collapses ~n rows to 4 groups before the
    shuffle, so the exchange moves O(partitions × groups) rows regardless
    of input size — the canonical scale-safe aggregation shape.
    """
    li = table(spark, sf_dir, "lineitem")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)) / 1_000_000.0)
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(price_c * (100 - disc_c) * (100 + tax_c)) / 100_000_000.0)
            .cast("double")
            .alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# X2 — equi-joins (inner / left outer / semi / anti)
# --------------------------------------------------------------------------

_CUST_ORDERS_ORACLE = f"""
SELECT
    c.c_mktsegment,
    CAST(COUNT(*) AS BIGINT)      AS n_orders,
    {sql_dsum('o.o_totalprice')}  AS segment_revenue,
    CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("join_customer_orders", oracle=_CUST_ORDERS_ORACLE)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: inner equi-join + aggregation.

    customer:orders is 1:10 at TPC-H ratios; at 100 TB both sides are big,
    so this is a shuffled hash/sort-merge join on the key — but AQE will
    still broadcast the customer side per-partition if runtime stats allow.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("segment_revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


_LEFT_JOIN_ORACLE = f"""
SELECT
    c.c_custkey,
    c.c_name,
    CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
    {sql_dsum('COALESCE(o.o_totalprice, 0)')} AS total_spent
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
"""


@query("join_left_outer", oracle=_LEFT_JOIN_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: left outer join preserving order-less customers (count 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_spent"),
        )
    )


_SEMI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
"""


@query("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: left-semi join (EXISTS) — no row multiplication, no payload
    columns from the probe side cross the shuffle."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderstatus = 'F' AND o.o_totalprice > 150000
)
"""


@query("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: left-anti join (NOT EXISTS) — the building block of the
    idempotent INSERT IGNORE sink (sinks.idempotent).

    The probe side is the *filtered* orders (finished, > $150k): in this
    synthetic corpus every customer has at least one order, so an
    unfiltered NOT EXISTS is the empty set at every SF — a vacuous pass
    (round-3 lesson). Filtering the build side both makes the result
    real (21 rows at sf0.001, 149 at sf0.01) and is the more common
    production shape: the filter lands before the shuffle, so the
    anti-join's build side shrinks by ~10×."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# X3 — broadcast join through the dimension chain
# --------------------------------------------------------------------------

_BCAST_ORACLE = f"""
SELECT
    r.r_name,
    n.n_name,
    CAST(COUNT(*) AS BIGINT)     AS n_orders,
    {sql_dsum('o.o_totalprice')} AS nation_revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
GROUP BY r.r_name, n.n_name
"""


@query("join_broadcast_dims", oracle=_BCAST_ORACLE)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: star-schema join — region/nation broadcast explicitly.

    region (5 rows) and nation (25 rows) are bounded dims at *any* scale
    factor, so they are hint-broadcast: the only shuffle left is
    orders⨝customer on custkey. The result is 2 exchanges instead of 4.
    """
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    dims = F.broadcast(  # bounded: fixed dims: nation join region (25 rows)
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(  # bounded: fixed dim (nation 25 / region 5 rows)
            "n_nationkey", "n_name", "r_name"
        )
    )
    return (
        c.join(dims, c.c_nationkey == dims.n_nationkey)
        .join(o, F.col("o_custkey") == c.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("nation_revenue"),
        )
    )


# --------------------------------------------------------------------------
# X7 — distinct & approx-distinct aggregation
# --------------------------------------------------------------------------

_DISTINCT_ORACLE = f"""
SELECT
    o_orderpriority,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS unique_customers,
    CAST(COUNT(*) AS BIGINT)                  AS n_orders,
    {sql_dsum('o_totalprice')}                AS revenue
FROM orders
GROUP BY o_orderpriority
"""


@query("agg_distinct", oracle=_DISTINCT_ORACLE)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: exact COUNT(DISTINCT) alongside plain aggregates. Spark plans
    this as a two-stage expand+aggregate; exact by construction."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT
    event_type,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
    CAST(COUNT(*) AS BIGINT)                AS n_events,
    TRUE                                    AS approx_within_2pct
FROM events
GROUP BY event_type
"""


@query("agg_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: HyperLogLog++ approximate distinct — the 100 TB answer to
    COUNT(DISTINCT), one pass, fixed memory, no expand. rsd=0.01 keeps the
    estimate well within 1% (observed ≤0.67% at every test sf).

    Oracle-upgraded (round 3): rather than a rows-only check, the query
    emits the exact distinct count PLUS an in-plan accuracy predicate
    ``|approx − exact| / exact ≤ 0.02``; the oracle computes the exact
    count and literal TRUE. The HLL sketch is thereby hash-checked — if
    the estimate ever drifts out of tolerance the boolean flips and the
    gate goes red — without putting the engine-specific raw estimate
    into the hashed cells.

    Plan shape (round-8 rework): NEVER put approx_count_distinct and an
    exact COUNT(DISTINCT) in the same Aggregate — Spark's
    distinct-aggregate rewrite then materializes the rsd=0.01 HLL buffer
    (1640 longs) per (group, user) row, ~1.3 GB of intermediate here and
    unboundedly worse at scale. Instead dedup to one row per (group,
    user) first (carrying the per-user event count), then aggregate once
    per group: COUNT(*) is the exact distinct, SUM(c) the event total,
    and the HLL runs over the deduped users — identical estimate, since
    a sketch only sees the SET of values — so the wide buffer exists
    per GROUP, not per user. Measured 1.9 s → ~0.3 s at sf0.1."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    # count(user_id), not count(*): the deduped frame carries at most one
    # NULL-user row per event_type, and COUNT(*) would count it while
    # both COUNT(DISTINCT) semantics and the HLL exclude NULLs — the
    # null-excluding count keeps exact vs approx comparable under any
    # future generator.
    agg = per_user.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count("user_id").alias("exact_users"),
        F.sum("c").alias("n_events"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
        <= 0.02
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        within.alias("approx_within_2pct"),
    )


# --------------------------------------------------------------------------
# X8 — rollup / cube / grouping sets
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT
    o_orderstatus,
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT)   AS n_orders,
    {sql_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: hierarchical rollup (status → priority → grand total). Spark
    plans one Expand + one aggregation — not N separate scans."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_CUBE_ORACLE = f"""
SELECT
    l_returnflag,
    l_linestatus,
    CAST(COUNT(*) AS BIGINT)  AS n_items,
    {sql_dsum('l_quantity')}  AS total_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: full cube over two low-cardinality keys."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity").alias("total_qty"),
    )


# --------------------------------------------------------------------------
# X11 — global top-k (sort + limit)
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@query("topk_orders", oracle=_TOPK_ORACLE)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: global top-k. Catalyst plans TakeOrderedAndProject — each task
    keeps a k-row heap and the driver merges k×partitions rows; no global
    sort materializes at any scale. o_orderkey tiebreak keeps the row set
    deterministic across engines.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# X12 — set operations
# --------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH building AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
big_spenders AS (
    SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
)
SELECT 'both' AS cohort, c_custkey FROM (
    SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big_spenders
)
UNION ALL
SELECT 'building_only' AS cohort, c_custkey FROM (
    SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big_spenders
)
UNION ALL
SELECT 'spender_only' AS cohort, c_custkey FROM (
    SELECT c_custkey FROM big_spenders EXCEPT SELECT c_custkey FROM building
)
"""


@query("setops_cohorts", oracle=_SETOPS_ORACLE)
def setops_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: INTERSECT / EXCEPT / UNION ALL over customer cohorts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    spenders = (
        o.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    both = building.intersect(spenders).select(
        F.lit("both").alias("cohort"), "c_custkey"
    )
    b_only = building.exceptAll(spenders).distinct().select(
        F.lit("building_only").alias("cohort"), "c_custkey"
    )
    s_only = spenders.exceptAll(building).distinct().select(
        F.lit("spender_only").alias("cohort"), "c_custkey"
    )
    return both.unionByName(b_only).unionByName(s_only)


# --------------------------------------------------------------------------
# X13 — scalar function surface (string / date / math / JSON)
# --------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT
    event_id,
    upper(event_type)                               AS type_upper,
    substr(event_type, 1, 3)                        AS type_prefix,
    concat(event_type, '#', CAST(user_id AS VARCHAR)) AS type_user,
    length(event_type)                              AS type_len,
    CAST(year(ts) AS BIGINT)                        AS y,
    CAST(month(ts) AS BIGINT)                       AS m,
    CAST(day(ts) AS BIGINT)                         AS d,
    date_trunc('hour', ts)                          AS ts_hour,
    round(value, 1)                                 AS value_rounded,
    abs(value - 100)                                AS value_centered,
    floor(value / 10)                               AS value_decile,
    sqrt(value)                                     AS value_sqrt,
    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS prop_k
FROM events
WHERE event_id % 10 = 0
"""


@query("scalar_functions", oracle=_SCALAR_ORACLE)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: row-level scalar function coverage, all JVM-side built-ins
    inside one WholeStageCodegen span — zero Python in the hot path.
    sqrt is IEEE-754 correctly-rounded, so it is cross-engine exact
    (ln/exp are not, and are deliberately excluded from hash-checked
    output)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.concat_ws("#", "event_type", F.col("user_id").cast("string")).alias(
            "type_user"
        ),
        F.length("event_type").cast("long").alias("type_len"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.date_trunc("hour", "ts").alias("ts_hour"),
        F.round("value", 1).alias("value_rounded"),
        F.abs(F.col("value") - 100).alias("value_centered"),
        F.floor(F.col("value") / 10).cast("double").alias("value_decile"),
        F.sqrt("value").alias("value_sqrt"),
        F.regexp_extract("props", r'"k": ([0-9]+)', 1)
        .cast("long")
        .alias("prop_k"),
    )
