"""Skew-aware aggregation (SURVEY.md §4.3: salting for skewed keys).

Two-stage salted aggregation: stage 1 aggregates on (key, salt) so a hot
key's rows spread over ``n_salts`` reducers; stage 2 merges the partials
per key. Result is identical to a direct groupBy (the oracle proves it);
the plan trades one extra small shuffle for bounded per-task input on
pathological key distributions. AQE's skew handling covers *joins*;
salting is the aggregation-side complement when a single group exceeds
one task's memory.

All partial aggregates here are algebraic (count/sum/min/max), so the
two-stage merge is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, dsum
from ..registry import query

N_SALTS = 16


def salted_agg(
    df: DataFrame,
    key: str,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Generic two-stage count/sum-cents/min/max aggregation of ``value``
    by ``key`` with salt spreading. Deterministic salt (hash of a unique
    column would also work; pmod of a monotonic id keeps it cheap)."""
    salted = df.withColumn("__salt", F.pmod(F.col("event_id"), F.lit(n_salts)))
    value_c = cents("value")
    partial = salted.groupBy(key, "__salt").agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum(value_c).alias("p_sum_c"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )
    return partial.groupBy(key).agg(
        F.sum("p_cnt").alias("n_events"),
        (F.sum("p_sum_c") / 100.0).cast("double").alias("total_value"),
        F.min("p_min").alias("min_value"),
        F.max("p_max").alias("max_value"),
    )


_SALTED_ORACLE = """
SELECT
    event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        AS total_value,
    MIN(value) AS min_value,
    MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


@query("agg_salted_skew", oracle=_SALTED_ORACLE)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.3: salted aggregation on a low-cardinality (worst-case-skew)
    key — 5 event types over the whole table is exactly the shape where a
    direct groupBy funnels everything into 5 reducers. The oracle is the
    plain GROUP BY: salting must be invisible in the result."""
    return salted_agg(table(spark, sf_dir, "events"), "event_type")


# --------------------------------------------------------------------------
# Salted JOIN (the join-side complement; AQE covers this adaptively, the
# explicit form is for engines/pipelines that must not rely on runtime
# re-planning, and for skew known ahead of time)
# --------------------------------------------------------------------------


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_col: Column,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Skew-proof equi-join: the dim side is replicated n_salts× (explode),
    the fact side gets a deterministic salt from ``salt_col``, and the join
    runs on (key, salt) — a hot key's rows spread over n_salts reducers
    instead of one. Result ≡ fact ⋈ dim on key. Cost: dim × n_salts rows
    (fine for dim tables; never salt two fact tables this way)."""
    dim_salted = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    fact_salted = fact.withColumn("__salt", F.pmod(salt_col, F.lit(n_salts)))
    return fact_salted.join(dim_salted, [key, "__salt"]).drop("__salt")


_SALTED_JOIN_ORACLE = """
WITH profile AS (
    SELECT user_id,
           COUNT(*) AS user_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
               AS user_value
    FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, p.user_events, p.user_value
FROM events e JOIN profile p ON p.user_id = e.user_id
WHERE e.event_id % 17 = 0
"""


@query("join_salted_skew", oracle=_SALTED_JOIN_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.3: explicit salted fact⋈dim join — per-user profile joined back
    to the event stream with the fact side salted on event_id. The oracle
    is the unsalted join: salting must be result-invisible. (AQE's
    skew-join split handles this adaptively; the explicit form documents
    the technique and survives with AQE off.)"""
    ev = table(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        dsum("value").alias("user_value"),
    )
    fact = ev.filter(F.col("event_id") % 17 == 0).select("event_id", "user_id")
    return salted_join(
        fact, profile, "user_id", F.col("event_id")
    ).select("event_id", "user_id", "user_events", "user_value")
