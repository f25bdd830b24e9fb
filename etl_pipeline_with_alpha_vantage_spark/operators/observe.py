"""In-flight pipeline metrics via Spark's Observation API.

The reference logs row counts by re-counting frames between steps
(`/root/reference/etl.py` prints shapes as it goes) — on Spark that
pattern would re-trigger whole jobs. `DataFrame.observe` attaches
accumulator-backed aggregates to points IN the plan, so ingest/kept/
dropped accounting rides the one production pass for free. This
operator demonstrates that: the metrics come from observations
collected during a single noop-sink run, never from extra scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

_CUTOFF = "1998-09-02"

_OBSERVE_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN l_shipdate <= TIMESTAMP '{_CUTOFF}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN l_shipdate > TIMESTAMP '{_CUTOFF}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN l_shipdate <= TIMESTAMP '{_CUTOFF}'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                     ELSE 0 END) / 100.0 AS DOUBLE) AS revenue_kept
FROM lineitem
"""


@query("observe_inflight_metrics", oracle=_OBSERVE_ORACLE)
def observe_inflight_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-audit metrics (rows in, rows kept/dropped by the ship-date
    gate, exact revenue kept) captured with `observe()` DURING one pass
    of the filter pipeline — zero additional scans or shuffles; the
    metrics are accumulator merges piggybacking on the tasks the
    pipeline runs anyway. This is how every load in streaming/runner.py
    should account for itself at 100 TB: a second COUNT(*) over the
    input would double the job's IO.

    The observed values then materialize as a 1-row DataFrame for the
    driver contract; the oracle recomputes the same accounting
    relationally, proving the in-flight path loses nothing.
    """
    li = table(spark, sf_dir, "lineitem")
    obs_in = Observation("ingest")
    obs_out = Observation("kept")
    price_c = cents("l_extendedprice")
    staged = li.observe(obs_in, F.count(F.lit(1)).alias("n_input")).filter(
        F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp")
    )
    gated = staged.observe(
        obs_out,
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(price_c).alias("revenue_cents"),
    )
    # One production action drives the whole plan; observation values
    # become available when it completes.
    gated.write.format("noop").mode("overwrite").save()
    n_input = int(obs_in.get["n_input"])
    n_kept = int(obs_out.get["n_kept"])
    revenue = int(obs_out.get["revenue_cents"])
    return spark.createDataFrame(
        [(n_input, n_kept, n_input - n_kept, revenue / 100.0)],
        "n_input bigint, n_kept bigint, n_dropped bigint, revenue_kept double",
    )
