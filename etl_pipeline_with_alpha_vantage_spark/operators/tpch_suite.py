"""Extended TPC-H-shaped query suite (SURVEY.md §2.C X2/X6/X11/X13).

The reference has no query workload at all (SURVEY §2.B — zero joins, zero
aggregations in `etl.py:1-238`), so the relational surface is defined by the
driver's TPC-H-ish warehouse. `relational.py`/`relational_ext.py` cover
Q1/Q3/Q5/Q6/Q10; this module lands every remaining classic TPC-H plan shape
— all 22 queries are represented — adapted to the pruned synthetic schema
(no partsupp table, no l_commitdate/l_receiptdate/l_shipmode, no c_phone —
each docstring notes the adaptation). What matters is that every *optimizer pattern* of the classic
suite is exercised: correlated EXISTS semi-joins, nation-pair self-joins,
conditional market-share ratios, two-level aggregation distributions,
group-filter join-back (HAVING on a fact rollup), correlated scalar
subqueries, disjunctive pushable predicates, and scalar-subquery + anti-join
composition.

All money aggregates use the scaled-integer exact helpers
(`functions.exact`) so results hash-match the DuckDB oracle bit-for-bit;
ratio outputs divide two identical integers on both engines (IEEE double
division is deterministic, so the quotient is cross-engine exact too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, davg, dsum, sql_davg, sql_dsum
from ..registry import query

# Exact revenue: l_extendedprice * (1 - l_discount) in scaled integers.
_SQL_REV_C = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def _rev_c() -> F.Column:
    """Cents×10⁴ integer revenue term — exact and associative."""
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return price_c * (100 - disc_c)


# --------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS semi-join with cross-table predicate)
# --------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT
    o.o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
"""


@query("q4_order_priority", oracle=_Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join, then count by
    priority. Adapted: the schema has no l_commitdate/l_receiptdate, so
    "late" is l_shipdate > o_orderdate + 60 days — same semi-join with a
    cross-table predicate, which Spark evaluates inside the join (no
    post-filter materialization).

    Scale: the orders date filter is parquet-pushable; the semi-join
    shuffles on orderkey but emits at most one row per order — no row
    multiplication ever crosses the exchange.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between a nation pair (two-role nation self-join)
# --------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT
    n1.n_name                               AS supp_nation,
    n2.n_name                               AS cust_nation,
    CAST(year(l.l_shipdate) AS BIGINT)      AS l_year,
    CAST(SUM({_SQL_REV_C}) / 1000000.0 AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)
"""


@query("q7_volume_shipping", oracle=_Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation plays two roles (supplier side, customer side), so
    the 25-row nation dim joins twice under different aliases with a
    disjunctive pair filter across both.

    Scale: both nation copies broadcast (fixed 25-row dim); supplier is
    SF-scaled so it carries no hint — AQE picks broadcast at supported
    scales and falls back to shuffle on a billion-supplier corpus. The
    heavy exchanges are lineitem⨝orders (orderkey) and ⨝customer
    (custkey). The pair filter cannot be pushed into either scan alone —
    it's evaluated right after the dims attach, before the wide join.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(s, s.s_suppkey == li.l_suppkey)  # SF-scaled (unfiltered supplier): no hint, AQE decides
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))  # bounded: fixed dim (nation 25 / region 5 rows)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))  # bounded: fixed dim (nation 25 / region 5 rows)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_rev_c()) / 1_000_000.0).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 — national market share (conditional ratio aggregate)
# --------------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT
    CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN {_SQL_REV_C} ELSE 0 END)
             AS DOUBLE)
      / CAST(SUM({_SQL_REV_C}) AS DOUBLE) AS mkt_share,
    CAST(SUM({_SQL_REV_C}) / 1000000.0 AS DOUBLE) AS total_revenue
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n1.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
  AND p.p_type = 'PROMO'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY CAST(year(o.o_orderdate) AS BIGINT)
"""


@query("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: market share of one supplier nation inside one customer
    region — a conditional-sum / total-sum ratio per year.

    Cross-engine exactness: numerator and denominator are both exact
    bigint sums; the single double division is IEEE-deterministic, so the
    ratio hash-matches without any tolerance.

    Scale: part is filtered to one of six types before the join (pushed
    to the scan); nation/region broadcast (fixed dims); part/supplier
    are SF-scaled and unhinted — AQE selects their join strategy by
    measured size; two fact shuffles remain.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev_c()
    nat7 = F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(F.lit(0))
    return (
        li.join(p, p.p_partkey == li.l_partkey)  # SF-scaled (1/6 of part): no hint, AQE decides
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))  # bounded: fixed dim (nation 25 / region 5 rows)
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n1_region"))  # bounded: fixed dim (nation 25 / region 5 rows)
        .join(s, s.s_suppkey == li.l_suppkey)  # SF-scaled (unfiltered supplier): no hint, AQE decides
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))  # bounded: fixed dim (nation 25 / region 5 rows)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nat7).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            ),
            (F.sum(rev) / 1_000_000.0).cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and year
# --------------------------------------------------------------------------

_Q9_ORACLE = f"""
SELECT
    n.n_name                            AS nation,
    CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(SUM({_SQL_REV_C}) / 1000000.0 AS DOUBLE) AS profit
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
"""


@query("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: substring part filter → fact joins → profit rollup
    by supplier nation × order year. Adapted: the schema has no partsupp,
    so profit omits the ps_supplycost term (revenue only) — the join/agg
    topology (part-filtered lineitem ⨝ orders ⨝ supplier→nation) is
    unchanged.

    Scale: `p_name LIKE '%widget%'` can't prune row groups (no prefix);
    the filtered part side is still SF-scaled, so it carries no hint —
    AQE broadcasts it while it fits and shuffles past that; the
    high-cardinality group key (nation × year) aggregates map-side
    first.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)  # SF-scaled (LIKE-filtered part): no hint, AQE decides
        .join(s, s.s_suppkey == li.l_suppkey)  # SF-scaled (unfiltered supplier): no hint, AQE decides
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))  # bounded: fixed dim (nation, 25 rows)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(_rev_c()) / 1_000_000.0).cast("double").alias("profit"))
    )


# --------------------------------------------------------------------------
# Q12 — late shipments by priority class (conditional counts over a join)
# --------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT
    l.l_returnflag,
    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
    CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
"""


@query("q12_late_priority", oracle=_Q12_ORACLE)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⨝fact with a cross-table lateness predicate,
    then conditional counts split by order priority. Adapted: no
    l_shipmode/l_receiptdate — grouping is by l_returnflag and "late"
    means shipped >90 days after the order date.

    Scale: the shipdate year range prunes the lineitem scan; the
    cross-table predicate runs inside the join; conditional sums collapse
    map-side to ≤3 groups before the final exchange.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (two-level aggregation)
# --------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
           ON o.o_custkey = c.c_custkey
          AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@query("q13_order_distribution", oracle=_Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of customers by order count — a left outer
    join with a join-side (not WHERE-side) filter, then two stacked
    aggregations; order-less customers land in the c_count=0 bucket, which
    an inner join would silently drop.

    Scale: first agg shuffles on custkey (high cardinality, even);
    second input is one row per customer collapsing to ~50 buckets
    map-side. The priority filter must stay in the ON clause — pushing it
    to WHERE would turn the outer join inner and lose the 0-bucket.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion revenue share (conditional ratio over one month)
# --------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT
    100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_SQL_REV_C} ELSE 0 END)
                 AS DOUBLE)
          / CAST(SUM({_SQL_REV_C}) AS DOUBLE) AS promo_revenue_pct,
    CAST(SUM({_SQL_REV_C}) / 1000000.0 AS DOUBLE) AS total_revenue,
    CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
  AND l.l_shipdate <  TIMESTAMP '1997-07-01'
"""


@query("q14_promo_share", oracle=_Q14_ORACLE)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: single-month scan, a part join AQE sizes at
    runtime (part is SF-scaled, so no forced hint), global conditional
    ratio (promo revenue %). Exactness as Q8: two exact
    bigint sums, one deterministic double division, scaled by the literal
    100.0 in the same order on both engines.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = _rev_c()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(p, p.p_partkey == li.l_partkey)  # SF-scaled (unfiltered part): no hint, AQE decides
        .agg(
            (
                F.lit(100.0)
                * (F.sum(promo).cast("double") / F.sum(rev).cast("double"))
            ).alias("promo_revenue_pct"),
            (F.sum(rev) / 1_000_000.0).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier (aggregate → global max → equality join-back)
# --------------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM({_SQL_REV_C}) AS rev_c
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(rev_c / 1000000.0 AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue ON supplier_no = s.s_suppkey
WHERE rev_c = (SELECT MAX(rev_c) FROM revenue)
"""


@query("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: per-supplier quarterly revenue, then the supplier(s)
    achieving the global maximum. The max is computed on the exact
    integer revenue, so the equality join-back is safe — with doubles,
    `rev == max(rev)` is exactly the floating-point equality trap the
    spec warns about.

    Scale: the revenue CTE aggregates map-side on suppkey; the global max
    is a 1-row broadcast; no second scan of lineitem (the CTE result is
    reused for both the max and the join-back).
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_c()).alias("rev_c")
    )
    max_rev = revenue.agg(F.max("rev_c").alias("max_rev_c"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("rev_c") == F.col("max_rev_c"))  # bounded: 1-row global aggregate
        .join(s, s.s_suppkey == F.col("supplier_no"))  # SF-scaled (unfiltered supplier); the max-filtered side is tiny, AQE broadcasts it
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c") / 1_000_000.0).cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar subquery per part)
# --------------------------------------------------------------------------

_Q17_ORACLE = f"""
WITH part_avg AS (
    SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
    FROM lineitem
    GROUP BY l_partkey
)
SELECT
    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
         / 100.0 / 7.0 AS DOUBLE) AS avg_yearly,
    CAST(COUNT(*) AS BIGINT)      AS n_small_lines
FROM lineitem l
JOIN part p    ON p.p_partkey = l.l_partkey
JOIN part_avg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < 0.2 * a.avg_qty
"""


@query("q17_small_qty_revenue", oracle=_Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: "lines whose quantity is below 20% of that part's
    average" — the correlated scalar subquery decorrelates into a
    per-part aggregate joined back to the fact. Adapted: no p_container
    column, so the part filter is brand-only.

    Exactness: avg_qty is the exact-cents average (identical double on
    both engines), and `l_quantity < 0.2 * avg_qty` applies the same two
    IEEE ops in the same order — the filtered row set is bit-identical.

    Scale: part_avg shuffles once on partkey; Spark reuses the exchange
    for the join-back (same key); the brand filter broadcasts part.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    price_c = cents("l_extendedprice")
    return (
        li.join(p, p.p_partkey == li.l_partkey)  # SF-scaled (1/25 of part): no hint, AQE decides
        .join(part_avg, F.col("avg_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(price_c) / 100.0 / 7.0).cast("double").alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING on fact rollup → join-back)
# --------------------------------------------------------------------------

_Q18_ORACLE = f"""
WITH big AS (
    SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(round(o.o_totalprice * 100) AS BIGINT) / 100.0 AS o_price,
       b.total_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@query("q18_large_volume_customers", oracle=_Q18_ORACLE)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total line quantity exceeds a threshold
    (>250 units here — the synthetic orders are ~4 lines, vs TPC-H's 7),
    joined back to orders and customer for identification.

    Scale: the HAVING rollup collapses lineitem to one row per qualifying
    order *before* any join — the join-back input is tiny and AQE
    broadcasts it against orders at runtime. The threshold compares exact
    integer cents, never a summed double.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    qty_c = cents("l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(qty_c).alias("qty_c"),
            dsum("l_quantity").alias("total_qty"),
        )
        .filter(F.col("qty_c") > 25000)
    )
    price = (cents("o_totalprice") / 100.0).alias(
        "o_price"
    )
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", price, "total_qty")
    )


# --------------------------------------------------------------------------
# Q19 — disjunctive brand/size/quantity predicates (OR-of-ANDs revenue)
# --------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT
    CAST(SUM({_SQL_REV_C}) / 1000000.0 AS DOUBLE) AS revenue,
    CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


@query("q19_disjunctive_revenue", oracle=_Q19_ORACLE)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three conjunctive brand/size/quantity
    bands evaluated across the part⨝lineitem join. (Brand#34 does not
    exist in the 25-brand synthetic dim — the dead branch is kept to
    preserve the three-arm disjunction shape.)

    Scale: Catalyst extracts the common `p_partkey` equi-condition so the
    join stays hash-based (no nested-loop), and pushes the brand/size
    disjunction down to the part scan; the mixed part+lineitem residual
    evaluates post-join inside codegen.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)  # SF-scaled (unfiltered part): no hint, AQE decides
        .filter(band)
        .agg(
            (F.sum(_rev_c()) / 1_000_000.0).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q22 — dormant high-value customers (scalar subquery + anti-join)
# --------------------------------------------------------------------------

_Q22_ORACLE = f"""
WITH avg_bal AS (
    SELECT {sql_davg('c_acctbal')} AS a
    FROM customer
    WHERE c_acctbal > 0.0
),
eligible AS (
    SELECT CAST(c_custkey % 25 + 10 AS VARCHAR) AS cntrycode,
           c_custkey, c_acctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND CAST(c_custkey % 25 + 10 AS VARCHAR)
          IN ('13', '31', '23', '29', '30', '18', '17')
)
SELECT cntrycode,
       CAST(COUNT(*) AS BIGINT)  AS numcust,
       {sql_dsum('c_acctbal')}   AS totacctbal
FROM eligible e
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = e.c_custkey
      AND o.o_orderstatus = 'F' AND o.o_totalprice > 150000
)
GROUP BY cntrycode
"""


@query("q22_dormant_value", oracle=_Q22_ORACLE)
def q22_dormant_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with no finished big-ticket
    order, bucketed by "country code". Adapted twice for this synthetic
    corpus: (1) the schema has no c_phone, so the TPC-H code-10-to-34
    country code is derived as c_custkey % 25 + 10 (same 7-of-25 IN-list
    selectivity); (2) every customer here has ≥1 order, so "dormant"
    means no finished order over $150k — an unfiltered NOT EXISTS would
    be the empty set at every SF (a vacuous pass, round-3 lesson).
    Nonzero at every SF: 2 rows at sf0.001, 7 at sf0.01.

    Composition: uncorrelated scalar subquery (global exact average,
    1-row broadcast) → selective filter → anti-join against filtered
    orders → aggregate. The anti-join probes with only eligible
    customers (~¼ of the table), not all of them.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    code = (F.col("c_custkey") % 25 + 10).cast("string")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("a"))
    )
    eligible = (
        c.join(F.broadcast(avg_bal))  # bounded: 1-row global aggregate
        .filter(
            (F.col("c_acctbal") > F.col("a"))
            & code.isin("13", "31", "23", "29", "30", "18", "17")
        )
        .select(code.alias("cntrycode"), "c_custkey", "c_acctbal")
    )
    return (
        eligible.join(o, o.o_custkey == eligible.c_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS self-joins)
# --------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT
    s.s_name,
    CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
JOIN nation n    ON n.n_nationkey = s.s_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND n.n_name IN ('NATION_7', 'NATION_12', 'NATION_21')
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
"""


@query("q21_waiting_suppliers", oracle=_Q21_ORACLE)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for finished orders, count late lineitems of
    suppliers who were the *only* late supplier on a multi-supplier
    order. Adapted: no l_commitdate/l_receiptdate, so "late" is
    l_shipdate > o_orderdate + 60 days (Q4's convention); single-nation
    filter widened to a 3-nation IN-list for result mass at small SF.

    The oracle keeps the classic correlated EXISTS + NOT EXISTS
    self-join form. The Spark plan rewrites both subqueries into ONE
    per-(order, supplier) aggregation plus a per-order window:

        lineitem ⋈ orders('F')           — orders side broadcasts under
                                           AQE at bench SF
        repartition(orderkey)            — ONE narrow-row exchange that
                                           serves both stages below:
        groupBy(orderkey, suppkey)       — shuffle-free: hash(orderkey)
                                           clusters (ok, sk); groups are
                                           ~1-2 rows, so skipping the
                                           map-side combine costs nothing
        Window over orderkey             — count suppliers / late
                                           suppliers per order, again
                                           shuffle-free
        filter supp_late ∧ n_supps ≥ 2 ∧ n_late_supps = 1
        ⋈ broadcast(supplier ⋈ nation)   — tiny dim
        groupBy(s_name)                  — final agg on ~100 keys

    Three self-join passes over the fact table become one pass + one
    exchange — at 100 TB the classic form shuffles lineitem three times,
    this plan once.
    """
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.cast("int").alias("is_late"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("is_late").alias("n_late_items"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "n_late_items",
        F.count(F.lit(1)).over(w).alias("n_supps"),
        F.sum((F.col("n_late_items") > 0).cast("int")).over(w).alias(
            "n_late_supps"
        ),
    ).filter(
        (F.col("n_late_items") > 0)
        & (F.col("n_supps") >= 2)
        & (F.col("n_late_supps") == 1)
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_12", "NATION_21")
    )
    dim = s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "s_name")
    return (
        flagged.join(dim, flagged.l_suppkey == dim.s_suppkey)  # SF-scaled (3-nation supplier slice): no hint, AQE decides
        .groupBy("s_name")
        .agg(F.sum("n_late_items").cast("long").alias("numwait"))
    )


# --------------------------------------------------------------------------
# Q11 — important parts by revenue share (agg vs global scalar threshold)
# --------------------------------------------------------------------------

_Q11_ORACLE = f"""
WITH per_part AS (
    SELECT l_partkey, SUM({_SQL_REV_C}) AS rev_c
    FROM lineitem
    GROUP BY l_partkey
),
total AS (SELECT SUM(rev_c) AS tot_c FROM per_part)
SELECT p.l_partkey                        AS partkey,
       CAST(p.rev_c / 1000000.0 AS DOUBLE) AS revenue
FROM per_part p, total t
WHERE p.rev_c * 1500 > t.tot_c
"""


@query("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value compared against a fraction of
    the GLOBAL total (HAVING sum > scalar subquery). Adapted: no
    partsupp, so "value" is lineitem revenue per part and the fraction
    is 1/1500 (integer threshold ⇒ the comparison is exact bigint
    arithmetic on both engines).

    The global total is derived FROM the per-part aggregate, not a
    second scan: both plan branches share the identical
    groupBy(l_partkey) exchange, which Spark dedupes via ReusedExchange
    — lineitem is read and shuffled once, and the 1-row total broadcasts
    back. At 100 TB that halves the dominant cost vs the naive
    two-scan formulation.
    """
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_rev_c()).alias("rev_c"))
    total = per_part.agg(F.sum("rev_c").alias("tot_c"))
    return (
        per_part.join(F.broadcast(total))  # bounded: 1-row global aggregate
        .filter(F.col("rev_c") * 1500 > F.col("tot_c"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("rev_c") / 1_000_000.0).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q16 — supplier relation count (distinct-agg with dim filter + anti-join)
# --------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p.p_brand,
       p.p_type,
       CAST(p.p_size AS BIGINT)                 AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 36, 45)
  AND NOT EXISTS (
      -- NOT EXISTS, not NOT IN: matches anti-join semantics if the
      -- subquery ever yields a NULL key (NOT IN would return no rows).
      SELECT 1 FROM supplier s
      WHERE s.s_suppkey = l.l_suppkey AND s.s_name LIKE '%7'
  )
GROUP BY 1, 2, 3
"""


@query("q16_supplier_relation", oracle=_Q16_ORACLE)
def q16_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can serve each
    (brand, type, size) bucket, excluding a supplier denylist. Adapted:
    no partsupp — the part↔supplier relation is the distinct
    (l_partkey, l_suppkey) pairs observed in lineitem; no s_comment —
    the "complaints" denylist is s_name LIKE '%7'.

    Plan: at supported scales AQE runs the weakly-filtered part join and
    the denylist anti-join as broadcasts (semi-reducing lineitem before
    anything shuffles) — both frames are SF-scaled, so neither is
    force-hinted; the distinct-pair step is subsumed by
    count_distinct's own partial-distinct — one exchange total, keyed
    on the output groups, never a standalone pairs materialization.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 36, 45)
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_name").endswith("7")
    ).select("s_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)  # SF-scaled (weakly filtered part): no hint, AQE decides
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")  # SF-scaled (~1/10 of supplier): no hint, AQE decides
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q20 — dominant-share suppliers (two-level agg + share join-back)
# --------------------------------------------------------------------------

_Q20_ORACLE = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
    FROM lineitem
    GROUP BY 1, 2
),
sh AS (
    SELECT l_partkey, l_suppkey, qty_c,
           SUM(qty_c) OVER (PARTITION BY l_partkey) AS tot_c
    FROM ps
)
SELECT s.s_suppkey,
       s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
FROM sh
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE sh.qty_c * 8 > sh.tot_c
GROUP BY 1, 2
"""


@query("q20_excess_share_suppliers", oracle=_Q20_ORACLE)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: select suppliers by comparing their per-part
    aggregate against a correlated per-part total ("supplier ships an
    outsized share of a part's volume"). Adapted: no
    partsupp/ps_availqty, so excess stock becomes shipped-quantity share
    above 12.5% (integer-exact: qty_c * 8 > tot_c — strictly above at
    this data's supplier fan-out; >50% never occurs).

    Plan, same technique as Q21: one explicit repartition(partkey) feeds
    the (partkey, suppkey) aggregate AND the per-part total, which is a
    window over that aggregate rather than a rollup + join-back — the
    window rides the same hash(partkey) clustering, so the fact table
    crosses the wire exactly once; the SF-scaled supplier join is
    unhinted (AQE decides); the final count shuffles ~|suppliers| rows.
    """
    li = table(spark, sf_dir, "lineitem")
    ps = (
        li.select(
            "l_partkey",
            "l_suppkey",
            cents("l_quantity").alias("qc"),
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qc").alias("qty_c"))
    )
    from pyspark.sql import Window

    sh = ps.withColumn(
        "tot_c", F.sum("qty_c").over(Window.partitionBy("l_partkey"))
    )
    s = table(spark, sf_dir, "supplier")
    return (
        sh.filter(F.col("qty_c") * 8 > F.col("tot_c"))
        .join(s, sh.l_suppkey == s.s_suppkey)  # SF-scaled (unfiltered supplier): no hint, AQE decides
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier per part (argmin join-back over a region)
# --------------------------------------------------------------------------

_Q2_ORACLE = """
WITH eu AS (
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
),
cost AS (
    SELECT l.l_partkey, p.p_name,
           eu.s_name, eu.n_name, eu.s_acctbal,
           MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 15
    JOIN eu   ON eu.s_suppkey = l.l_suppkey
    GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
    SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
    FROM cost
)
SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal,
       s_name,
       n_name,
       l_partkey AS p_partkey,
       p_name,
       CAST(unit_cost AS DOUBLE) AS unit_cost
FROM ranked
WHERE unit_cost = best_cost
"""


@query("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a size class, the cheapest
    supplier(s) within one region — the correlated-MIN subquery of the
    classic query as a per-part window over an aggregate. Adapted: no
    partsupp/ps_supplycost, so cost is the minimum observed unit price
    (l_extendedprice / l_quantity: one IEEE division, deterministic and
    oracle-exact; MIN is order-insensitive).

    Plan: both dim filters attach before the explicit repartition
    (size-15 parts keep ~2% of rows, the EUROPE supplier set ~20% —
    both SF-scaled, so unhinted; AQE broadcasts them while they fit),
    and the repartition(partkey) exchanges only the surviving sliver;
    the (part, supplier, attrs) aggregate and the per-part min window
    both ride that clustering, and ties at the minimum all surface,
    exactly as in the reference query.
    """
    li = table(spark, sf_dir, "lineitem")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from pyspark.sql import Window

    cost = (
        li.select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
        .join(p, F.col("l_partkey") == p.p_partkey)  # SF-scaled (1/50 of part): no hint, AQE decides
        .join(eu, F.col("l_suppkey") == eu.s_suppkey)  # SF-scaled (EUROPE supplier slice): no hint, AQE decides
        .repartition("l_partkey")
        .groupBy("l_partkey", "p_name", "s_name", "n_name", "s_acctbal")
        .agg(F.min("unit").alias("unit_cost"))
    )
    best = cost.withColumn(
        "best_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    )
    return best.filter(F.col("unit_cost") == F.col("best_cost")).select(
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
        "s_name",
        "n_name",
        F.col("l_partkey").alias("p_partkey"),
        "p_name",
        F.col("unit_cost").cast("double").alias("unit_cost"),
    )
