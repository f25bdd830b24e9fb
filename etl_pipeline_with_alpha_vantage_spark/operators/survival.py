"""Survival analysis over customer lifetimes — Kaplan-Meier estimator.

Retention curves (``cohort_retention``) answer "what fraction came back
month N"; the Kaplan-Meier estimator answers the censoring-aware version
a subscription/engagement business actually needs: the probability a
customer "survives" past lifetime t when many customers are still alive
at observation end (right-censored) and must NOT be counted as churned.
Public method: Kaplan & Meier (1958), the standard product-limit
estimator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

# A customer whose last order is within the horizon of the dataset's
# final date is right-censored (still alive), not churned.
_KM_HORIZON_DAYS = 365

_KM_ORACLE = f"""
WITH per AS (
    SELECT o_custkey,
           CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                          CAST(MAX(o_orderdate) AS DATE)) AS INT) AS t_days,
           CAST(MAX(o_orderdate) AS DATE) AS last_d
    FROM orders GROUP BY 1
),
mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS mx FROM orders),
flagged AS (
    SELECT t_days,
           CASE WHEN date_diff('day', last_d, mx.mx) < {_KM_HORIZON_DAYS}
                THEN 0 ELSE 1 END AS churned
    FROM per, mx
),
times AS (
    SELECT t_days,
           CAST(SUM(churned) AS BIGINT) AS n_events,
           CAST(SUM(1 - churned) AS BIGINT) AS n_censored
    FROM flagged GROUP BY 1
),
risk AS (
    SELECT t_days, n_events, n_censored,
           CAST(SUM(n_events + n_censored)
                    OVER (ORDER BY t_days DESC) AS BIGINT) AS n_at_risk
    FROM times
),
factors AS (
    SELECT *,
           CASE WHEN n_events < n_at_risk
                THEN CAST(round(ln((n_at_risk - n_events) * 1.0 / n_at_risk)
                                * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS f_micro,
           CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END AS zeroed
    FROM risk
),
cum AS (
    SELECT t_days, n_at_risk, n_events, n_censored,
           SUM(f_micro) OVER (ORDER BY t_days) AS ln_s_micro,
           MAX(zeroed) OVER (ORDER BY t_days) AS z
    FROM factors
)
SELECT t_days, n_at_risk, n_events, n_censored,
       CASE WHEN z = 1 THEN CAST(0 AS BIGINT)
            ELSE CAST(round(exp(ln_s_micro / 1000000.0) * 1000000)
                      AS BIGINT) END AS surv_micro
FROM cum
ORDER BY t_days
"""


@query("churn_survival_km", oracle=_KM_ORACLE)
def churn_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetimes. A
    customer's lifetime is the days between first and last order; they
    are right-CENSORED (still alive, not churned) when the last order
    falls within {h} days of the dataset's end. Emits, per distinct
    lifetime t: the risk set n_i (customers with lifetime ≥ t), the
    observed churn events d_i, the censored count, and the
    product-limit estimate S(t) = Π_{{t_i ≤ t}} (1 − d_i/n_i) in
    micro-units — censored customers leave the risk set WITHOUT
    registering a death, which is the entire point of the estimator.

    Cross-engine exactness: each factor ln(1 − d_i/n_i) consumes an
    exact bigint rational and is rounded to micro-nats BEFORE the
    cumulative sum (the text_bigram_lm discipline); the curve is
    exp(exact integer sum). A terminal time where everyone churns
    (d = n) would send ln to −∞ — Spark yields NULL there and DuckDB
    −inf, so that row is flagged and the curve pinned to exactly 0
    from it onward in both engines instead of ever evaluating the log.

    Scale shape: one map-side-combined shuffle collapses orders to one
    row per customer (min/max date); a second collapses customers to
    one row per distinct lifetime (≤ calendar-days rows, data-size
    independent). Both cumulative windows — the reverse-cumulative risk
    set and the forward product — run over that bounded lifetime table,
    never over facts, so the unpartitioned ordering is O(days), the
    post-agg global-window shape every accepted curve query here uses.
    """
    orders = table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))
        )
        .cast("int")
        .alias("t_days"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    mx = orders.agg(F.max(F.to_date("o_orderdate")).alias("mx"))
    flagged = per.crossJoin(F.broadcast(mx)).select(  # bounded: 1-row global aggregate
        "t_days",
        F.when(
            F.datediff(F.col("mx"), F.col("last_d")) < _KM_HORIZON_DAYS, 0
        )
        .otherwise(1)
        .alias("churned"),
    )
    times = flagged.groupBy("t_days").agg(
        F.sum("churned").cast("long").alias("n_events"),
        F.sum(1 - F.col("churned")).cast("long").alias("n_censored"),
    )
    w_desc = Window.orderBy(F.col("t_days").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = times.select(
        "t_days",
        "n_events",
        "n_censored",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w_desc)
        .cast("long")
        .alias("n_at_risk"),
    )
    factors = risk.select(
        "*",
        F.when(
            F.col("n_events") < F.col("n_at_risk"),
            cents(
                F.log(
                    (F.col("n_at_risk") - F.col("n_events"))
                    * 1.0
                    / F.col("n_at_risk")
                ),
                6,
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("f_micro"),
        F.when(F.col("n_events") >= F.col("n_at_risk"), 1)
        .otherwise(0)
        .alias("zeroed"),
    )
    w_asc = Window.orderBy("t_days").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = factors.select(
        "t_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.sum("f_micro").over(w_asc).alias("ln_s_micro"),
        F.max("zeroed").over(w_asc).alias("z"),
    )
    return cum.select(
        "t_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(F.col("z") == 1, F.lit(0).cast("long"))
        .otherwise(
            cents(F.exp(F.col("ln_s_micro") / 1_000_000.0), 6)
        )
        .alias("surv_micro"),
    ).orderBy("t_days")


churn_survival_km.__doc__ = churn_survival_km.__doc__.format(
    h=_KM_HORIZON_DAYS
)
