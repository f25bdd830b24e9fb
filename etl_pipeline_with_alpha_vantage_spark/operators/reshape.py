"""Reshaping operators: pivot / unpivot / cross join / null semantics
(SURVEY.md X6/X8/X12/X13 widening).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT
    user_id,
    {", ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )},
    CAST(SUM(CAST(round(value * 100) AS BIGINT))
         FILTER (WHERE event_type = 'purchase') / 100.0 AS DOUBLE)
        AS purchase_value
FROM events
GROUP BY user_id
"""


@query("pivot_event_counts", oracle=_PIVOT_ORACLE)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: pivot (long→wide) with an EXPLICIT value list — at scale the
    implicit form would first run a distinct scan over the pivot column
    and then hold one aggregation slot per discovered value; pinning the
    values keeps the plan static and one-pass. Oracle uses portable
    FILTERed aggregates."""
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", value_c)).alias("pc"),
        )
    )
    cols = [F.col("user_id")]
    cols += [
        F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    cols.append(
        (F.col("purchase_pc") / 100.0).cast("double").alias("purchase_value")
    )
    return wide.select(*cols)


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS amount
FROM lineitem WHERE l_orderkey % 23 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 23 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount
FROM lineitem WHERE l_orderkey % 23 = 0
"""


@query("unpivot_measures", oracle=_UNPIVOT_ORACLE)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: unpivot (wide→long) via DataFrame.unpivot — one Expand node,
    not three scans (the oracle's UNION ALL form is the portable
    equivalent; Catalyst's is a single pass)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 23 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="amount",
    ).withColumn(
        "measure", F.regexp_replace("measure", "^l_", "")
    )


_CROSS_ORACLE = """
SELECT r.r_name, q.quarter_no,
       CAST(COUNT(*) OVER () AS BIGINT) AS total_cells
FROM region r
CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS quarter_no) q
"""


@query("cross_join_grid", oracle=_CROSS_ORACLE)
def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: explicit cross join building a dimension grid (the one place a
    cartesian product is intended — both sides bounded)."""
    r = table(spark, sf_dir, "region")
    q = spark.range(1, 5).select(F.col("id").cast("int").alias("quarter_no"))
    grid = r.crossJoin(q).select("r_name", "quarter_no")
    return grid.withColumn(
        "total_cells", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
    )


_NULLS_ORACLE = """
WITH t AS (
    SELECT event_id,
           NULLIF(event_type, 'error')         AS type_or_null,
           TRY_CAST(event_type AS BIGINT)      AS always_null,
           value
    FROM events WHERE event_id % 29 = 0
)
SELECT
    event_id,
    type_or_null,
    COALESCE(type_or_null, 'was_error')         AS type_filled,
    (type_or_null IS NOT DISTINCT FROM NULL)    AS is_error,
    CASE WHEN type_or_null IS NULL THEN value ELSE 0 END AS error_value,
    COALESCE(always_null, -1)                   AS null_filled,
    (always_null IS DISTINCT FROM 0)            AS null_ne_zero
FROM t
"""


@query("null_semantics", oracle=_NULLS_ORACLE)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: null-handling semantics — nullif/coalesce/null-safe equality
    (Spark <=> ≡ SQL IS NOT DISTINCT FROM). Pinned here because the
    engine's contract (SURVEY.md §2.D.2) is NULL propagation, not
    pandas-style inf/NaN."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 29 == 0)
    t = ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
        F.col("event_type").try_cast("long").alias("always_null"),
        "value",
    )
    return t.select(
        "event_id",
        "type_or_null",
        F.coalesce("type_or_null", F.lit("was_error")).alias("type_filled"),
        F.col("type_or_null").eqNullSafe(F.lit(None).cast("string")).alias(
            "is_error"
        ),
        F.when(F.col("type_or_null").isNull(), F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("error_value"),
        F.coalesce("always_null", F.lit(-1)).alias("null_filled"),
        (~F.col("always_null").eqNullSafe(F.lit(0))).alias("null_ne_zero"),
    )


_FIRSTLAST_ORACLE = """
SELECT
    user_id,
    event_id,
    first_value(value) OVER w  AS first_val,
    last_value(value) OVER w   AS last_val,
    nth_value(value, 2) OVER w AS second_val,
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


@query("window_first_last", oracle=_FIRSTLAST_ORACLE)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: first/last/nth value over the full partition (explicit
    unbounded frame — last_value over the default frame is a classic
    wrong-answer trap; the engine always pins the frame)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )
