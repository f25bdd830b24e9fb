"""Window-function operator surface (SURVEY.md §2.C X9-X10).

These implement the analytics the reference stops just short of (its one
derived metric, ``daily_change_percentage`` at etl.py:98, is a row-local
expression; lag/moving windows are its natural extension — SURVEY.md §2.B).

Scale note: every window here partitions by a high-cardinality key
(custkey / user_id), so state per partition is bounded and the single
shuffle is on the partition key. No global (unpartitioned) windows — those
serialize onto one task and are a 100 TB anti-pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

# --------------------------------------------------------------------------
# X9 — ranking windows (top-k per group)
# --------------------------------------------------------------------------

_RANKING_ORACLE = """
SELECT *
FROM (
    SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        CAST(row_number() OVER w AS BIGINT) AS rn,
        CAST(rank() OVER w2 AS BIGINT)      AS price_rank,
        CAST(dense_rank() OVER w2 AS BIGINT) AS price_dense_rank
    FROM orders
    WINDOW
        w  AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
        w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
)
WHERE rn <= 3
"""


@query("window_ranking", oracle=_RANKING_ORACLE)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: top-3 orders per customer via row_number/rank/dense_rank.

    o_orderkey tiebreak makes row_number deterministic; rank/dense_rank
    are tie-stable by definition.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w2).cast("long").alias("price_rank"),
            F.dense_rank().over(w2).cast("long").alias("price_dense_rank"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# X10 — analytic windows: lag / lead / running / moving frames
# --------------------------------------------------------------------------

_ANALYTIC_ORACLE = """
SELECT
    user_id,
    event_id,
    value,
    lag(value)  OVER w AS prev_value,
    lead(value) OVER w AS next_value,
    value - lag(value) OVER w AS delta,
    CAST(row_number() OVER w AS BIGINT) AS seq,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0 AS DOUBLE)
        AS running_total,
    CAST(
      (SUM(CAST(round(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      / CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / 100.0 AS DOUBLE) AS moving_avg_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


@query("window_analytics", oracle=_ANALYTIC_ORACLE)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: lag/lead deltas, running totals, 3-row moving average per user.

    event_id is ts-monotonic so ordering by it equals time order while
    staying unique (deterministic frames). Running/moving sums use scaled
    integers: window-sum association order differs between engines, integer
    addition doesn't care (functions.exact rationale).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    w3 = w.rowsBetween(-2, Window.currentRow)
    value_c = cents("value")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.row_number().over(w).cast("long").alias("seq"),
        (F.sum(value_c).over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100.0)
        .cast("double")
        .alias("running_total"),
        (
            F.sum(value_c).over(w3)
            / F.count(F.lit(1)).over(w3).cast("double")
            / 100.0
        )
        .cast("double")
        .alias("moving_avg_3"),
    )


# --------------------------------------------------------------------------
# X10b — distribution windows (ntile / percent_rank / cume_dist)
# --------------------------------------------------------------------------

_DISTRIB_ORACLE = """
SELECT
    o_orderpriority,
    o_orderkey,
    o_totalprice,
    CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
    percent_rank() OVER w           AS price_pct_rank,
    cume_dist() OVER w              AS price_cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@query("window_distribution", oracle=_DISTRIB_ORACLE)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: ntile/percent_rank/cume_dist per priority class. Full tiebreak
    on (price, orderkey) so tile boundaries are engine-independent."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
    )
