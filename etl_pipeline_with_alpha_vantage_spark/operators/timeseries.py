"""Time-series operators over ``events``: batch sessionization, date-spine
gap-fill with LOCF, deterministic stratified sampling, full-outer alignment
(SURVEY.md X2/X9/X10/X18 widening; the gap-fill is the batch analog of the
reference's per-symbol daily series, ``/root/reference/etl.py:96-98``).

Scale notes: every operator here is a single shuffle on its natural key
(``user_id`` / ``(user_id, day)`` / ``event_type``) followed by
window/aggregate work that stays partition-local, so the plans hold at
100 TB — sessionization in particular is the canonical "shuffle once,
then linear scan per key" pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, dsum, md5_long
from ..registry import query

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, microseconds

_SESSIONIZE_ORACLE = f"""
WITH o AS (
    SELECT user_id, ts, event_id, value,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_no
    FROM o
)
SELECT
    user_id,
    CAST(session_no AS BIGINT)  AS session_no,
    CAST(COUNT(*) AS BIGINT)    AS n_events,
    MIN(ts)                     AS session_start,
    MAX(ts)                     AS session_end,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
                                AS session_value
FROM s
GROUP BY user_id, session_no
"""


def assign_sessions(
    ev: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Tag each event with its per-user session number (gap-based).

    lag() finds the inactivity gap, a running sum of boundary flags
    numbers the sessions; both windows share the user_id partitioning.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn("session_no", F.sum(is_new).over(run).cast("long"))


@query("sessionize_batch", oracle=_SESSIONIZE_ORACLE)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch (30-min inactivity boundary).

    assign_sessions + one groupBy roll-up; the windows and the aggregate
    share the user_id hash partitioning, so the whole plan is ONE
    shuffle. This is the batch twin of the streaming session_window
    query (stream_session) — at 100 TB the batch form backfills history
    while the stream handles the live tail.
    """
    ev = table(spark, sf_dir, "events")
    return assign_sessions(ev).groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


_GAPFILL_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           SUM(CAST(round(value * 100) AS BIGINT)) AS day_cents
    FROM events WHERE user_id % 29 = 0
    GROUP BY user_id, CAST(ts AS DATE)
),
bounds AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine AS (
    SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
),
j AS (
    SELECT s.user_id, s.day, d.day_cents
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT
    user_id,
    day,
    CAST(last_value(day_cents IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS DOUBLE)
        AS value_filled,
    (day_cents IS NULL) AS is_gap
FROM j
"""


@query("gapfill_locf", oracle=_GAPFILL_ORACLE)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap-fill with last-observation-carried-forward.

    Resamples a sparse per-user event stream to a dense daily series:
    sequence() builds each user's date spine (no driver loop, no
    cartesian), a left join marks the holes, and last(ignorenulls) over
    an unbounded-preceding frame carries the prior value forward — the
    time-series resample the reference's daily OHLCV table implies but
    never materializes (etl.py:96-98). Spine generation is per-key and
    the join/window reuse the user_id partitioning: one shuffle.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 29 == 0)
    value_c = cents("value")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(value_c).alias("day_cents"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        (F.last("day_cents", ignorenulls=True).over(w) / 100.0)
        .cast("double")
        .alias("value_filled"),
        F.col("day_cents").isNull().alias("is_gap"),
    )


# Data-mixing rates for training-set assembly: keep every Nth event per
# stratum (systematic sampling — deterministic, reproducible, and unlike
# Bernoulli sampling it is exactly reproducible across engines).
SAMPLE_EVERY = {"view": 20, "click": 10, "error": 2, "purchase": 1, "signup": 1}

_STRATIFIED_ORACLE = f"""
WITH r AS (
    SELECT event_id, event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
    FROM events
)
SELECT event_id, event_type, value
FROM r
WHERE (rn - 1) % (CASE event_type
                  {" ".join(f"WHEN '{t}' THEN {m}" for t, m in sorted(SAMPLE_EVERY.items()))}
                  ELSE 1 END) = 0
"""


@query("sample_stratified", oracle=_STRATIFIED_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (systematic) sampling — training-data
    mixing: downsample the dominant strata (view 1/20, click 1/10),
    keep the rare ones whole. row_number within each stratum + a modulus
    gives an exactly reproducible sample, unlike rand()-based sampleBy.
    One shuffle on the (low-cardinality) stratum key; at skew, salt the
    row-numbering by a secondary key range.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    every = F.coalesce(
        *[
            F.when(F.col("event_type") == t, F.lit(m))
            for t, m in sorted(SAMPLE_EVERY.items())
        ],
        F.lit(1),
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % every == 0)
        .select("event_id", "event_type", "value")
    )


_FULL_OUTER_ORACLE = """
WITH err AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_errors
    FROM events WHERE event_type = 'error'
    GROUP BY user_id, CAST(ts AS DATE)
),
pur AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_purchases,
           SUM(CAST(round(value * 100) AS BIGINT)) AS cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
)
SELECT
    COALESCE(e.user_id, p.user_id)      AS user_id,
    COALESCE(e.day, p.day)              AS day,
    CAST(COALESCE(e.n_errors, 0) AS BIGINT)    AS n_errors,
    CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases,
    CAST(COALESCE(p.cents, 0) / 100.0 AS DOUBLE) AS purchase_value
FROM err e FULL JOIN pur p ON e.user_id = p.user_id AND e.day = p.day
"""


@query("join_full_outer", oracle=_FULL_OUTER_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: full-outer alignment of two sparse per-(user, day) series —
    user-days with errors but no purchases and vice versa both survive.
    Spark's list-of-keys join form coalesces the key columns exactly like
    the oracle's COALESCE pair. Both inputs hash-partition on the same
    composite key, so the outer join is a single co-partitioned
    sort-merge at any scale.
    """
    ev = table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    value_c = cents("value")
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(value_c).alias("cents"),
        )
    )
    return err.join(pur, ["user_id", "day"], "full").select(
        "user_id",
        "day",
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        (F.coalesce("cents", F.lit(0)) / 100.0)
        .cast("double")
        .alias("purchase_value"),
    )


_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(ts) AS vts FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS cts
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > v.vts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS pts
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.cts
    GROUP BY e.user_id
)
SELECT
    CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT) AS n_users,
    CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
    CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after_view,
    CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after_click
"""


@query("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): each stage keeps users
    whose first qualifying event happens strictly AFTER their previous
    stage's first event.

    Single-clustering form: three layered windows over ONE user_id
    partitioning compute each user's first view, first click-after-view,
    and first purchase-after-click per row (each window may reference the
    previous stage's per-user constant), then a per-user rollup rides the
    same clustering and a final single-row aggregate counts the stages.
    The fact stream shuffles exactly once — the join-chained formulation
    paid an exchange per stage.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    typ = F.col("event_type")
    staged = (
        ev.withColumn(
            "vts", F.min(F.when(typ == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "cts",
            F.min(
                F.when((typ == "click") & (F.col("ts") > F.col("vts")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "pts",
            F.min(
                F.when(
                    (typ == "purchase") & (F.col("ts") > F.col("cts")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("vts").alias("vts"),
        F.max("cts").alias("cts"),
        F.max("pts").alias("pts"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("vts").alias("n_viewed"),
        F.count("cts").alias("n_clicked_after_view"),
        F.count("pts").alias("n_purchased_after_click"),
    )


_SPLIT_ORACLE = """
WITH b AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
    FROM documents
)
SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@query("sample_hash_split", oracle=_SPLIT_ORACLE)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE and engine-independent:
    bucket = md5(key) mod 100, so the same document lands in the same
    split on any engine, any run, any shard count (rand()-based splits
    guarantee none of that). Narrow projection, no shuffle; at 100 TB the
    split is a free column, not a materialization."""
    docs = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id")) % 100
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


_MIX_ORACLE = """
WITH b AS (
    SELECT doc_id, source,
           ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS bucket,
           CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
                THEN 100
                WHEN source IN ('src5', 'src6', 'src7', 'src8', 'src9')
                THEN 50
                ELSE 25 END AS keep_pct
    FROM documents
)
SELECT doc_id, source, CAST(keep_pct AS BIGINT) AS keep_pct
FROM b
WHERE bucket < keep_pct
"""


@query("data_mix_weighted", oracle=_MIX_ORACLE)
def data_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing — the training-data recipe step: keep 100%
    of high-quality sources, 50% of mid-tier, 25% of the rest, chosen by
    a salted deterministic hash (md5('mix:'||doc_id) mod 100) so the mix
    is reproducible on any engine and *independent* of the
    sample_hash_split bucketing (different salt → uncorrelated buckets —
    sampling with the same hash would make the mix and the split
    interact).

    Scale: pure narrow projection+filter — no shuffle, no state; at
    100 TB the mix is applied inline during the scan, and the keep_pct
    column doubles as the row's sampling weight for loss reweighting.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = md5_long("mix:", F.col("doc_id")) % 100
    keep_pct = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 100)
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 50)
        .otherwise(25)
        .cast("long")
    )
    return (
        docs.select(
            "doc_id", "source", bucket.alias("bucket"), keep_pct.alias("keep_pct")
        )
        .filter(F.col("bucket") < F.col("keep_pct"))
        .select("doc_id", "source", "keep_pct")
    )


# --------------------------------------------------------------------------
# Cohort retention — first-seen cohort × day-offset activity matrix
# --------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cohorts AS (
    SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT
    c.cohort_day,
    CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
    CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_RETENTION_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention analytics: bucket users by first-active day
    (their cohort) and count distinct users active at each day offset —
    the matrix behind every retention curve.

    Shape: the raw events collapse map-side (partial distinct) before the
    first shuffle, so the 100 TB fact stream crosses the wire only as its
    distinct (user, day) pairs; the cohort-min window re-exchanges those
    already-collapsed rows on user_id, and the final (cohort_day, offset)
    rollup shuffles only cohort-sized rows. Three exchanges, but the fact
    volume is paid once and everything downstream is distinct-day-sized —
    deliberately NOT the repartition-first single-clustering form, which
    would shuffle the raw events unaggregated.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    activity = (
        ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    w = Window.partitionBy("user_id")
    with_cohort = activity.withColumn("cohort_day", F.min("day").over(w))
    return (
        with_cohort.groupBy(
            "cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Peak concurrency — segmented distributed prefix-sum (sweep line at scale)
# --------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH iv AS (
    SELECT event_type, ts AS s,
           ts + INTERVAL (CAST(trunc(value) AS INT)) SECOND AS e
    FROM events
),
deltas AS (
    SELECT event_type, s AS t, 1 AS delta FROM iv
    UNION ALL
    SELECT event_type, e AS t, -1 AS delta FROM iv
),
cum AS (
    SELECT event_type,
           SUM(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta) AS running
    FROM deltas
)
SELECT event_type, CAST(MAX(running) AS BIGINT) AS peak_concurrency
FROM cum GROUP BY event_type
"""


@query("concurrency_peak", oracle=_CONCURRENCY_ORACLE)
def concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent open intervals per event type (interval = [ts,
    ts + value seconds)), the classic sweep-line — implemented as a
    SEGMENTED prefix sum so no timeline ever serializes through one
    partition:

    1. ±1 deltas bucket by hour; the intra-bucket running sum is a
       window over (type, bucket) — many small independent partitions.
    2. Per-bucket totals (net delta, max local prefix) collapse to one
       row per bucket ON THE SAME clustering (no second fact exchange).
    3. The cross-bucket offset is a prefix sum over the tiny per-bucket
       rows; peak = max(offset + local max). A monolithic
       ``Window.partitionBy(event_type).orderBy(t)`` — the oracle's
       formulation — funnels each type's entire 100 TB timeline through
       one task; the segmented form's fact-sized work is all
       bucket-parallel.

    Tie semantics: ordering by (t, delta) ends intervals before starting
    new ones at the same instant, and the RANGE default frame makes tied
    rows see their full peer group, so the running sum is deterministic.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    # Interval length = trunc(value) seconds, matching the oracle's
    # CAST(trunc(value) AS INT) exactly (CAST alone ROUNDS in DuckDB but
    # TRUNCATES in non-ANSI Spark — a latent half-second parity break).
    # timestamp_add keeps the column's TIMESTAMP_NTZ type (unix_micros
    # would reject it) and the long cast keeps arbitrarily long
    # intervals out of 32-bit wraparound territory.
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        F.timestamp_add("SECOND", F.col("value").cast("long"), F.col("ts")).alias("e"),
    )
    # One fact scan: emit both sweep deltas per interval with a 2-element
    # explode instead of a self-union (which would scan events twice).
    deltas = iv.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("d"),
    ).select("event_type", F.col("d.t").alias("t"), F.col("d.delta").alias("delta"))
    bucketed = deltas.withColumn("bucket", F.date_trunc("hour", F.col("t")))
    w_local = Window.partitionBy("event_type", "bucket").orderBy("t", "delta")
    local = bucketed.withColumn("running", F.sum("delta").over(w_local))
    per_bucket = local.groupBy("event_type", "bucket").agg(
        F.sum("delta").alias("net"),
        F.max("running").alias("local_max"),
    )
    w_offset = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_offset = per_bucket.withColumn(
        "offset", F.coalesce(F.sum("net").over(w_offset), F.lit(0))
    )
    return with_offset.groupBy("event_type").agg(
        F.max(F.col("offset") + F.col("local_max")).alias("peak_concurrency")
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection (trailing-window outliers)
# --------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH c AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
w AS (
    SELECT event_id, user_id, ts, cents,
           COUNT(*)            OVER win AS n,
           SUM(cents)          OVER win AS s1,
           SUM(cents * cents)  OVER win AS s2
    FROM c
    WINDOW win AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
    )
)
SELECT event_id, user_id, ts,
       CAST(cents / 100.0 AS DOUBLE) AS value,
       (cents - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1))) AS zscore
FROM w
WHERE n >= 5 AND n * s2 - s1 * s1 > 0
  AND abs((cents - CAST(s1 AS DOUBLE) / n)
          / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))) > 2.0
"""


@query("anomaly_rolling_zscore", oracle=_ZSCORE_ORACLE)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window outlier detection: flag events whose value sits
    more than 2 standard deviations from the mean of the SAME user's
    previous ≤20 events — the data-quality screen that catches sensor
    glitches / abuse spikes without a global pass.

    Cross-engine exactness: the rolling moments are integer-cent sums
    (count / Σx / Σx² are exact BIGINTs in any accumulation order), and
    mean/variance/z are derived from those integers by one fixed IEEE
    expression tree, so Spark and the oracle produce bit-identical
    doubles — no tolerance needed even at full-precision hashing.

    Scale: one shuffle on user_id (high cardinality → even spread),
    then a bounded 20-row frame per key: state is O(1) per row, the
    whole operator is a single window pass over the fact stream.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "user_id",
        "ts",
        cents("value").alias("cents"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = c.select(
        "event_id",
        "user_id",
        "ts",
        "cents",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("cents").over(win).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var_num = n * s2 - s1 * s1
    z = (F.col("cents") - s1.cast("double") / n) / F.sqrt(
        var_num.cast("double") / (n * (n - 1))
    )
    return (
        w.filter((n >= 5) & (var_num > 0))
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.0)
        .select(
            "event_id",
            "user_id",
            "ts",
            (F.col("cents") / 100.0).cast("double").alias("value"),
            "zscore",
        )
    )


# --------------------------------------------------------------------------
# Deterministic per-group reservoir sample (quota sampling by source)
# --------------------------------------------------------------------------

_RESERVOIR_K = 10

_RESERVOIR_ORACLE = f"""
WITH h AS (
    SELECT doc_id, source,
           ('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS hkey
    FROM documents
),
r AS (
    SELECT doc_id, source, hkey,
           row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rn
    FROM h
)
SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
FROM r WHERE rn <= {_RESERVOIR_K}
"""


@query("sample_reservoir_group", oracle=_RESERVOIR_ORACLE)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fixed-quota sample: the k documents with the smallest
    salted md5 key per source — statistically a uniform without-
    replacement reservoir, but DETERMINISTIC and engine-independent
    (re-runs, Spark vs DuckDB, any partitioning: same k docs), which is
    what an audit-able training-data pipeline needs from its "inspect
    10 docs per source" step.

    Scale: the hash is a narrow projection; per-group top-k by hash is
    rank-then-filter after one shuffle on source. With heavy groups the
    map-side already discards beyond-k candidates per partition under
    AQE-sized splits; state per group is O(k), never O(rows).
    """
    docs = table(spark, sf_dir, "documents")
    hkey = md5_long("res:", F.col("doc_id"), digits=15)
    w = Window.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        docs.select("doc_id", "source", hkey.alias("hkey"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= _RESERVOIR_K)
        .select("source", "doc_id", "sample_rank")
    )


# --------------------------------------------------------------------------
# Cumulative distinct cardinality (first-occurrence decomposition)
# --------------------------------------------------------------------------

_CUMDISTINCT_ORACLE = """
WITH first_seen AS (
    SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY event_type, user_id
),
daily AS (
    SELECT event_type, first_day AS day, COUNT(*) AS new_users
    FROM first_seen GROUP BY event_type, first_day
)
SELECT event_type, day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_users
FROM daily
"""


@query("cumulative_distinct_users", oracle=_CUMDISTINCT_ORACLE)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-growth curve: per event type, daily NEW users and the
    running count of distinct users ever seen — i.e. COUNT(DISTINCT)
    over a growing window, which no engine supports directly at scale.

    The trick is the first-occurrence decomposition: a distinct user
    contributes exactly once, on their first day, so cumulative-distinct
    ≡ running SUM of first-day counts. The fact stream collapses map-side
    into (type, user) pairs (partial min), the per-day roll-up is
    distinct-user-sized, and the window runs over tiny (type, day) rows —
    the 100 TB timeline never serializes through one partition.
    """
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# --------------------------------------------------------------------------
# SCD2 dimension build (change detection → validity intervals)
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH h AS (
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS seen_at, o_orderkey AS okey,
           lag(o_orderstatus) OVER w AS prev_status
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
    SELECT custkey, status, seen_at, okey
    FROM h WHERE prev_status IS NULL OR status <> prev_status
)
SELECT custkey, status,
       seen_at AS valid_from,
       lead(seen_at) OVER w2 AS valid_to,
       (lead(seen_at) OVER w2 IS NULL) AS is_current,
       CAST(row_number() OVER w2 AS BIGINT) AS version
FROM changes
WINDOW w2 AS (PARTITION BY custkey ORDER BY seen_at, okey)
"""


@query("scd2_customer_status", oracle=_SCD2_ORACLE)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: treat each customer's
    order stream as status observations, keep only CHANGES (lag-compare),
    and close each surviving row's validity interval with the next
    change's start (lead) — the valid_from/valid_to/is_current/version
    shape every warehouse dimension load needs.

    All three windows (lag change-detect, lead interval-close, version
    row_number) share ONE custkey clustering, so the whole build is a
    single shuffle of the history table followed by partition-local
    scans; at 100 TB this is the cheapest correct SCD2 build shape —
    no self-join of history against itself.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("seen_at"),
        F.col("o_orderkey").alias("okey"),
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    changes = h.filter(
        F.col("prev_status").isNull() | (F.col("status") != F.col("prev_status"))
    )
    w2 = Window.partitionBy("custkey").orderBy("seen_at", "okey")
    return changes.select(
        "custkey",
        "status",
        F.col("seen_at").alias("valid_from"),
        F.lead("seen_at").over(w2).alias("valid_to"),
        F.lead("seen_at").over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


# --------------------------------------------------------------------------
# Behavioral transition matrix (Markov counts over event sequences)
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY event_type)
           AS p_transition
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@query("event_transitions", oracle=_TRANSITIONS_ORACLE)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: counts and conditional
    probabilities of event_type → next event_type within each user's
    timeline — the Markov summary behind funnel diagnostics and
    next-action models.

    One shuffle on user_id for the lead() window (ties broken by
    event_id for a deterministic sequence), then the (from, to) rollup
    collapses map-side to a states² table; the per-from normalization
    runs over that tiny matrix, never the fact. p is one integer ratio
    per cell — engine-identical.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    w_norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_norm)
        ).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# CDC latest-state apply (SCD1 merge with deletes)
# --------------------------------------------------------------------------

_CDC_ORACLE = """
WITH changes AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
    FROM events
),
ranked AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_changes
    FROM changes
)
SELECT user_id,
       ts AS last_ts,
       CAST(round(value * 100) AS BIGINT) AS last_value_cents,
       CAST(n_changes AS BIGINT) AS n_changes
FROM ranked
WHERE rn = 1 AND op = 'U'
"""


@query("cdc_latest_state", oracle=_CDC_ORACLE)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: collapse a change stream (upserts + deletes) to the
    current state table — the SCD-Type-1 MERGE every warehouse replays
    from a Debezium/binlog feed. Events are per-user changes ordered by
    (ts, event_id); 'error' events model tombstones: a key whose LATEST
    change is a delete vanishes from the state entirely (not merely
    filtered history — the contested case an anti-join formulation gets
    wrong when a later upsert follows the delete).

    Scale shape: ONE shuffle on the key; both the latest-row choice
    (row_number) and the change count ride the same user_id window
    clustering. No self-join against "current state" — at 100 TB the
    state table is derived, not joined. Deterministic total order via
    the (ts, event_id) tiebreak; value in exact cents.
    """
    ev = table(spark, sf_dir, "events")
    changes = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = changes.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n_changes"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        cents("value").alias("last_value_cents"),
        F.col("n_changes").cast("long").alias("n_changes"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixing (the multi-corpus sampling weights)
# --------------------------------------------------------------------------

_MIX_BUDGET = 100_000  # documents in the mixed training set

_MIX_TEMP_ORACLE = f"""
WITH src AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM src),
w AS (
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / tot.n AS raw_share,
           CAST(round(sqrt(CAST(n_docs AS DOUBLE) / tot.n) * 1000000000)
                AS BIGINT) AS w_units
    FROM src, tot
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       raw_share,
       CAST(w_units AS DOUBLE) / SUM(w_units) OVER () AS temp_weight,
       CAST({_MIX_BUDGET} * w_units // SUM(w_units) OVER () AS BIGINT)
           AS target_docs
FROM w
"""


@query("data_mix_temperature", oracle=_MIX_TEMP_ORACLE)
def data_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (T=2, i.e. weight ∝ share^0.5):
    the standard rebalancing that upsamples small sources relative to
    their raw share when assembling a multi-corpus training mix.

    Cross-engine exactness despite the power function: α=0.5 is sqrt —
    IEEE-correctly-rounded on every platform (general pow is not) — and
    each source's weight rounds to integer nano-units BEFORE the
    normalizing sum, so the denominator is an exact integer and both
    weight and target count derive from integer arithmetic plus one
    deterministic division.

    Scale shape: one partial-aggregated shuffle to source counts
    (O(sources) rows), then window math over the tiny aggregate — the
    fact table is scanned once and never re-shuffled.
    """
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    tot = F.sum("n_docs").over(wall)
    share = F.col("n_docs").cast("double") / tot
    w_units = F.round(F.sqrt(share) * 1_000_000_000).cast("long")
    with_w = src.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        share.alias("raw_share"),
        w_units.alias("w_units"),
    )
    unit_sum = F.sum("w_units").over(wall)
    return with_w.select(
        "source",
        "n_docs",
        "raw_share",
        (F.col("w_units").cast("double") / unit_sum).alias("temp_weight"),
        F.expr(f"{_MIX_BUDGET} * w_units DIV sum(w_units) OVER ()")
        .cast("long")
        .alias("target_docs"),
    )


# --------------------------------------------------------------------------
# EWMA smoothing — per-key sequential recurrence (X20 + X10 widening)
# --------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH RECURSIVE e AS (
    SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events
),
r AS (
    SELECT user_id, event_id, rn, cents AS ewma_cents FROM e WHERE rn = 1
    UNION ALL
    SELECT e.user_id, e.event_id, e.rn,
           CAST(floor((r.ewma_cents + e.cents) / 2.0) AS BIGINT)
    FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn,
       CAST(ewma_cents / 100.0 AS DOUBLE) AS ewma
FROM r
"""


@query("ewma_smoothing", oracle=_EWMA_ORACLE)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (alpha = 1/2).

    A true sequential recurrence — s_t = floor((s_{t-1} + v_t) / 2) — has
    no closed window form. It runs as one shuffle on user_id
    (repartition + sortWithinPartitions) into a PER-PARTITION
    ``mapInPandas`` sweep: each Arrow batch is scanned once, user
    boundaries detected inline, state carried across batch boundaries
    inside the generator. One Python invocation per partition — NOT per
    user — which is what makes the slow path cheap (the earlier
    per-group applyInPandas form spent ~2 ms of pandas overhead per
    user and was 3× slower at sf0.1 with 2 k users). State is integer
    cents with floor halving, so every step is bit-exact on any engine —
    the DuckDB oracle replays the identical recurrence as a recursive
    CTE and must agree to the last bit.

    At 100 TB this is the canonical "shuffle once, sweep per key"
    pattern (same clustering discipline as sessionize_batch); per-key
    state is one int64, keys are independent, and 1000 executors each
    sweep their own partitions. The alpha=1/2 choice is what makes the
    arithmetic closed over integers — a float alpha would need the
    integer-microunit rounding discipline of text_perplexity_proxy
    instead.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    ev = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "ts",
            cents("value").alias("cents"),
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )

    def sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prev_user, acc, rn = None, 0, 0
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            c = pdf["cents"].to_numpy()
            out = np.empty(len(c), dtype=np.int64)
            rns = np.empty(len(c), dtype=np.int64)
            for i in range(len(c)):
                if u[i] != prev_user:
                    prev_user, acc, rn = u[i], int(c[i]), 1
                else:
                    # floor((a+b)/2) == (a+b)//2 for int64 — engine-exact
                    acc, rn = (acc + int(c[i])) // 2, rn + 1
                out[i] = acc
                rns[i] = rn
            yield pd.DataFrame(
                {
                    "user_id": u,
                    "event_id": pdf["event_id"],
                    "rn": rns,
                    "ewma": out / 100.0,
                }
            )

    return ev.mapInPandas(
        sweep, "user_id long, event_id long, rn long, ewma double"
    )


# --------------------------------------------------------------------------
# Rolling median — order-statistic window frame (X10 widening)
# --------------------------------------------------------------------------

_ROLLMED_ORACLE = """
SELECT user_id, event_id,
       CAST(median(CAST(round(value * 100) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) / 100.0 AS DOUBLE)
       AS rolling_median
FROM events
"""


@query("window_rolling_median", oracle=_ROLLMED_ORACLE)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20-event rolling median per user — the robust twin of
    anomaly_rolling_zscore's rolling mean (a median shrugs off the
    outliers that drag a mean).

    Spark refuses ordered-set aggregates (median/percentile) over a
    window *frame*, and the expression fallback (``collect_list`` over
    the frame + ``array_sort`` + middle pick) re-materializes and
    re-sorts the 20-element buffer per row in interpreted higher-order
    functions — measured 1.9 s at sf0.1, 4× its exact rolling-mean
    sibling. This version instead rides the same one-shuffle
    repartition + sortWithinPartitions shape as ewma_smoothing and
    computes the order statistic in an Arrow-batched ``mapInPandas``
    sweep: pandas' C-implemented skiplist ``rolling(20).median`` per
    user, with a ≤19-row carry stitching users that straddle Arrow
    batch boundaries.

    Exactness: the inputs are integer cents, and the median of integers
    is either an integer or a half-integer (mean of the two middle
    values) — both exactly representable in a double, so the engines
    agree bit-for-bit with no rounding discipline needed.

    Frame state is O(20) per row by construction; nothing global. At
    100 TB the plan is one user_id shuffle and a per-partition sorted
    sweep — the frame never leaves the executor, and only the 12-byte
    (user, event, cents) projection crosses the Arrow boundary.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    ev = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "ts",
            cents("value").alias("cents"),
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )

    def sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None  # last user's trailing ≤19 rows
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if (
                carry is not None
                and len(carry)
                and pdf["user_id"].iloc[0] == carry["user_id"].iloc[0]
            ):
                work = pd.concat([carry, pdf], ignore_index=True)
                skip = len(carry)
            else:
                work, skip = pdf, 0
            med = (
                work.groupby("user_id", sort=False)["cents"]
                .rolling(20, min_periods=1)
                .median()
                .to_numpy()
            )
            out = pd.DataFrame(
                {
                    "user_id": work["user_id"],
                    "event_id": work["event_id"],
                    "rolling_median": med / 100.0,
                }
            )
            yield out.iloc[skip:]
            last_user = work["user_id"].iloc[-1]
            carry = (
                work[work["user_id"] == last_user]
                .tail(19)[["user_id", "event_id", "cents"]]
                .reset_index(drop=True)
            )

    return ev.mapInPandas(
        sweep, "user_id long, event_id long, rolling_median double"
    )


# --------------------------------------------------------------------------
# Class-balanced sampling — equalize class sizes deterministically
# --------------------------------------------------------------------------

_BALANCED_ORACLE = """
WITH quota AS (
    SELECT MIN(c) AS q FROM (
        SELECT COUNT(*) AS c FROM documents GROUP BY lang
    )
),
ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT r.lang, r.doc_id
FROM ranked r CROSS JOIN quota
WHERE r.rn <= quota.q
"""


@query("sample_balanced_classes", oracle=_BALANCED_ORACLE)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balancing downsample: every language keeps
    exactly min-class-size docs — the standard rebalance before training
    a classifier on skewed labels (no class weighting support needed
    downstream).

    The quota is data-derived (1-row global min, broadcast into the
    plan); membership is the salted-hash discipline every sampler here
    uses — rank docs per class by md5(doc_id) and keep the smallest —
    so the sample is reproducible across runs, engines, and cluster
    sizes, and adding documents to one class never changes which docs
    OTHER classes keep. One shuffle on lang, rank-then-filter; same
    shape as sample_reservoir_group but with the quota coming from the
    data instead of a constant.
    """
    docs = table(spark, sf_dir, "documents")
    quota = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("q"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.join(F.broadcast(quota))  # bounded: enum/bucket-keyed rollup (bounded group count)
        .filter(F.col("rn") <= F.col("q"))
        .select("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution — credit split across the click window
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7 days

_ATTR_LINEAR_ORACLE = f"""
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id AS click_id, user_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
pairs AS (
    SELECT p.purchase_id, p.value_cents, c.click_id, c.user_id
    FROM p JOIN c ON p.user_id = c.user_id
    WHERE c.click_ts <= p.purchase_ts
      AND epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
          <= {_ATTR_WINDOW_US}
),
split AS (
    SELECT click_id, user_id,
           purchase_id,
           value_cents * 10000 //
               COUNT(*) OVER (PARTITION BY purchase_id) AS credit_micro
    FROM pairs
)
SELECT click_id,
       user_id,
       CAST(COUNT(*) AS BIGINT)                  AS n_purchases,
       CAST(SUM(credit_micro) / 1e6 AS DOUBLE)   AS credit
FROM split
GROUP BY click_id, user_id
"""


@query("attribution_linear", oracle=_ATTR_LINEAR_ORACLE)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the 7 days before
    a purchase shares the purchase value equally — the credit model one
    step past stream_join_attribution's raw pair enumeration (last-touch
    is the as-of join; this is the many-touch generalization).

    Plan: the user_id equi-join carries the time band as a residual (per
    user the candidate set is that user's own clicks — key-bounded, no
    range blow-up), a purchase_id window counts the touchpoints, and the
    per-click rollup aggregates the split credit. Exactness: each
    purchase's cents convert to micro-cent credit via INTEGER division
    (floor), so the split is engine-identical — no floating credit
    drift; the remainder simply stays unassigned, the documented
    convention.
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        cents("value").alias("value_cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
            <= _ATTR_WINDOW_US
        ),
    )
    n_touch = F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    split = pairs.select(
        "click_id",
        "user_id",
        F.expr("value_cents * 10000").alias("vm"),
        n_touch.alias("n"),
    ).select(
        "click_id", "user_id", F.expr("vm DIV n").alias("credit_micro")
    )
    return split.groupBy("click_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum("credit_micro") / 1e6).cast("double").alias("credit"),
    )


# --------------------------------------------------------------------------
# Longest activity streak — gaps-and-islands on the date axis
# --------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grp AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
    FROM days
),
streaks AS (
    SELECT user_id, anchor,
           COUNT(*) AS streak_days,
           MIN(day) AS streak_start,
           MAX(day) AS streak_end
    FROM grp GROUP BY user_id, anchor
)
SELECT user_id, CAST(streak_days AS BIGINT) AS streak_days,
       streak_start, streak_end
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY streak_days DESC, streak_start) AS rn
    FROM streaks
) WHERE rn = 1
"""


@query("window_streak_longest", oracle=_STREAK_ORACLE)
def window_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands problem (retention/engagement metric).

    The island key needs no self-join and no iteration: day minus the
    per-user day rank is CONSTANT within a run of consecutive dates and
    jumps at every gap, so one window + one aggregate + one top-1 window
    solve it. All three stages ride the same user_id hash clustering —
    ONE shuffle end to end (the distinct collapses map-side first).
    Earliest streak wins a length tie, making the result deterministic.
    """
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("day")
    )
    grp = days.withColumn("anchor", F.date_sub(F.col("day"), rn))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    top = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.desc("streak_days"), "streak_start"
        )
    )
    return (
        streaks.withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("streak_days").cast("long"),
            "streak_start",
            "streak_end",
        )
    )


# --------------------------------------------------------------------------
# Gap-fill by linear interpolation — the two-sided complement of LOCF
# --------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           SUM(CAST(round(value * 100) AS BIGINT)) AS day_cents
    FROM events WHERE user_id % 29 = 0
    GROUP BY user_id, CAST(ts AS DATE)
),
bounds AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
),
j AS (
    SELECT s.user_id, s.day, d.day_cents FROM spine s
    LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
),
ctx AS (
    SELECT user_id, day, day_cents,
           last_value(day_cents IGNORE NULLS) OVER wb AS pc,
           last_value(CASE WHEN day_cents IS NOT NULL THEN day END
                      IGNORE NULLS) OVER wb AS pd,
           first_value(day_cents IGNORE NULLS) OVER wf AS nc,
           first_value(CASE WHEN day_cents IS NOT NULL THEN day END
                       IGNORE NULLS) OVER wf AS nd
    FROM j
    WINDOW wb AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       CAST(CASE WHEN day_cents IS NOT NULL THEN day_cents * 10000
                 ELSE pc * 10000 + CAST(floor(
                     (nc - pc) * 10000.0 * date_diff('day', pd, day)
                     / date_diff('day', pd, nd)) AS BIGINT)
            END / 1e6 AS DOUBLE)      AS value_interp,
       (day_cents IS NULL)            AS is_gap
FROM ctx
"""


@query("gapfill_interpolate", oracle=_INTERP_ORACLE)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap-fill by LINEAR INTERPOLATION — the two-sided
    sibling of gapfill_locf (a reading between two observations should
    trend toward the next one, not flatline at the last).

    Same single-shuffle shape: per-user daily rollup, sequence() spine,
    left join to mark holes, then BOTH neighbors off one sorted frame
    (last ignorenulls looking back, first ignorenulls looking forward —
    the asof_join_nearest discipline) and a row-local interpolation.
    Exactness: the interpolated value is computed in integer micro-cent
    units with one floor'd IEEE division (exact inputs, identical
    rounding on both engines). Spine endpoints are always observations,
    so every gap has both neighbors by construction.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 29 == 0)
    value_c = cents("value")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(value_c).alias("day_cents")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    ctx = j.select(
        "user_id",
        "day",
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(wb).alias("pc"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("day_cents", ignorenulls=True).over(wf).alias("nc"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    interp_micro = F.col("pc") * 10000 + F.floor(
        (F.col("nc") - F.col("pc"))
        * 10000.0
        * F.datediff("day", "pd")
        / F.datediff("nd", "pd")
    ).cast("long")
    filled = F.when(
        F.col("day_cents").isNotNull(), F.col("day_cents") * 10000
    ).otherwise(interp_micro)
    return ctx.select(
        "user_id",
        "day",
        (filled / 1e6).cast("double").alias("value_interp"),
        F.col("day_cents").isNull().alias("is_gap"),
    )


# --------------------------------------------------------------------------
# Snapshot diff — time-travel table comparison between two cutoffs
# --------------------------------------------------------------------------

_SNAP_T1 = "2024-01-11 00:00:00"
_SNAP_T2 = "2024-01-21 00:00:00"

_SNAPDIFF_ORACLE = f"""
WITH s1 AS (
    SELECT user_id, event_type AS type_t1,
           CAST(round(value * 100) AS BIGINT) AS cents_t1
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{_SNAP_T1}'
    ) WHERE rn = 1
),
s2 AS (
    SELECT user_id, event_type AS type_t2,
           CAST(round(value * 100) AS BIGINT) AS cents_t2
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{_SNAP_T2}'
    ) WHERE rn = 1
)
SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
       CASE WHEN s1.user_id IS NULL THEN 'ADDED'
            WHEN s1.type_t1 <> s2.type_t2 OR s1.cents_t1 <> s2.cents_t2
                THEN 'CHANGED'
            ELSE 'UNCHANGED' END AS status,
       s1.type_t1,
       s2.type_t2,
       CAST(COALESCE(s2.cents_t2, 0) - COALESCE(s1.cents_t1, 0) AS BIGINT)
           AS cents_delta
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
"""


@query("snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot diff: per-key state of the events table AS OF
    two cutoffs, classified ADDED / CHANGED / UNCHANGED — the audit
    query behind every "what changed since the last load" report
    (lakehouse table-diff semantics without a table format).

    Each snapshot is a latest-row-per-key reduction (max_by on the
    (ts, event_id) struct — ONE partial-aggregated shuffle per cutoff,
    both with their ts predicate pushed to the scan), and the diff is a
    single full-outer join on the key. Events are append-only, so
    REMOVED cannot occur by construction (documented; a deletion
    tombstone source would surface it through the same plan — see
    cdc_latest_state for tombstone handling). Exactness: states are
    (string, integer-cents) pairs picked by a deterministic total order;
    the delta is integer subtraction.
    """
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")

    def snap(cutoff: str, suffix: str) -> DataFrame:
        filtered = ev.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
        key = F.struct("ts", "event_id")
        return filtered.groupBy("user_id").agg(
            F.max_by("event_type", key).alias(f"type_{suffix}"),
            F.max_by(value_c, key).alias(f"cents_{suffix}"),
        )

    s1 = snap(_SNAP_T1, "t1").withColumnRenamed("user_id", "u1")
    s2 = snap(_SNAP_T2, "t2").withColumnRenamed("user_id", "u2")
    j = s1.join(s2, s1["u1"] == s2["u2"], "full_outer")
    status = (
        F.when(F.col("u1").isNull(), "ADDED")
        .when(
            (F.col("type_t1") != F.col("type_t2"))
            | (F.col("cents_t1") != F.col("cents_t2")),
            "CHANGED",
        )
        .otherwise("UNCHANGED")
    )
    return j.select(
        F.coalesce("u1", "u2").alias("user_id"),
        status.alias("status"),
        "type_t1",
        "type_t2",
        (
            F.coalesce("cents_t2", F.lit(0)) - F.coalesce("cents_t1", F.lit(0))
        ).alias("cents_delta"),
    )


# --------------------------------------------------------------------------
# Cascading rollup — day → week → month from PRE-AGGREGATES only
# --------------------------------------------------------------------------

_CASCADE_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           COUNT(*) AS n, SUM(CAST(round(value * 100) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
),
weekly AS (
    SELECT event_type, date_trunc('week', day) AS week,
           SUM(n) AS n, SUM(cents) AS cents, COUNT(*) AS n_days
    FROM daily GROUP BY 1, 2
)
SELECT event_type,
       CAST(date_trunc('month', week) AS DATE) AS month,
       CAST(SUM(n) AS BIGINT)          AS n_events,
       CAST(SUM(cents) / 100.0 AS DOUBLE) AS total_value,
       CAST(SUM(n_days) AS BIGINT)     AS n_days,
       CAST(COUNT(*) AS BIGINT)        AS n_weeks
FROM weekly GROUP BY 1, 2
"""


@query("rollup_cascade", oracle=_CASCADE_ORACLE)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading materialization rollup: day → week → month, where each
    tier aggregates ONLY the tier below — the raw table is scanned
    exactly once, for the daily tier. This is the warehouse
    materialization hierarchy (sinks.refresh_daily_rollup maintains the
    daily tier incrementally; the higher tiers re-aggregate O(days) and
    O(weeks) rows, never raw events), and it works because counts and
    integer-cent sums form a commutative monoid — the same algebraic
    property agg_hll_mergeable exploits for distinct counts.

    Months whose weeks straddle month boundaries attribute each ISO week
    to the month containing its Monday — a deliberate, documented
    convention (the oracle applies the identical truncation chain, so
    the convention itself is parity-locked). One fact shuffle + two
    dust-sized re-aggregations.
    """
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(value_c).alias("cents"))
    weekly = daily.groupBy(
        "event_type", F.date_trunc("week", "day").alias("week")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("cents").alias("cents"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return weekly.groupBy(
        "event_type",
        F.date_trunc("month", "week").cast("date").alias("month"),
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        (F.sum("cents") / 100.0).cast("double").alias("total_value"),
        F.sum("n_days").cast("long").alias("n_days"),
        F.count(F.lit(1)).alias("n_weeks"),
    )


# --------------------------------------------------------------------------
# Order inter-arrival statistics — per-customer cadence profile
# --------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH gaps AS (
    SELECT o_custkey,
           date_diff('day',
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap_days
    FROM orders
)
SELECT o_custkey AS custkey,
       CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT)   AS min_gap,
       CAST(MAX(gap_days) AS BIGINT)   AS max_gap,
       CAST(SUM(gap_days) AS BIGINT)   AS total_span_days,
       CAST(median(gap_days) AS DOUBLE) AS median_gap
FROM gaps
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
"""


@query("orders_interarrival", oracle=_INTERARRIVAL_ORACLE)
def orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order cadence: inter-arrival gap statistics between
    consecutive orders (reorder-frequency profiling — the input to churn
    prediction and replenishment models).

    One shuffle on custkey; lag() and the gap aggregation ride the same
    clustering. Gaps are integer day counts, so min/max/sum are exact
    and the median is integer-or-half-integer (the
    window_rolling_median argument) — no rounding discipline needed.
    Customers with a single order produce no gap rows and drop out, the
    documented semantics (their cadence is undefined, not zero).
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_days").cast("long").alias("min_gap"),
        F.max("gap_days").cast("long").alias("max_gap"),
        F.sum("gap_days").cast("long").alias("total_span_days"),
        F.median("gap_days").cast("double").alias("median_gap"),
    )


# --------------------------------------------------------------------------
# Watermark lateness profile — pick the streaming watermark FROM the data
# --------------------------------------------------------------------------

_LATENESS_ORACLE = """
WITH seq AS (
    SELECT event_type,
           epoch_us(MAX(ts) OVER (PARTITION BY event_type
                                  ORDER BY event_id)) - epoch_us(ts)
               AS late_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)      AS n_events,
       CAST(MAX(late_us) AS BIGINT)  AS max_late_us,
       CAST(SUM(CASE WHEN late_us > CAST(60 AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT)               AS dropped_at_1m,
       CAST(SUM(CASE WHEN late_us > CAST(600 AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT)               AS dropped_at_10m,
       CAST(SUM(CASE WHEN late_us > CAST(3600 AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT)               AS dropped_at_1h,
       CAST(CAST(SUM(CASE WHEN late_us > CAST(600 AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS DOUBLE) AS frac_dropped_10m
FROM seq
GROUP BY event_type
ORDER BY event_type
"""


@query("watermark_lateness_profile", oracle=_LATENESS_ORACLE)
def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit that chooses the streaming watermark FROM
    the data instead of guessing: per event type, each event's lateness
    is how far behind the running event-time high-water mark it arrived
    (arrival order = event_id, the ingest sequence). Reports the max
    lateness and exactly how many events a 1-minute / 10-minute /
    1-hour watermark would DROP — the number that decides the
    `withWatermark` argument for every X18/X19 operator here.

    Scale shape: one shuffle clusters each type, the running max is a
    single sort-based window sweep (no self-join against history), and
    the per-type accounting folds map-side into O(types) rows. Integer
    microsecond arithmetic end-to-end; the only double is one IEEE
    division of exact counts.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    late = ev.select(
        "event_type",
        (
            F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("late_us"),
    )
    us = lambda s: s * 1_000_000  # noqa: E731
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_us").alias("max_late_us"),
            F.sum((F.col("late_us") > us(60)).cast("long")).alias(
                "dropped_at_1m"
            ),
            F.sum((F.col("late_us") > us(600)).cast("long")).alias(
                "dropped_at_10m"
            ),
            F.sum((F.col("late_us") > us(3600)).cast("long")).alias(
                "dropped_at_1h"
            ),
            (
                F.sum((F.col("late_us") > us(600)).cast("long")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("frac_dropped_10m"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Weekday seasonality index — calendar baseline for anomaly screens
# --------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH base AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) % 7 AS weekday,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
per_day AS (
    SELECT event_type, weekday,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM base GROUP BY 1, 2
),
totals AS (
    SELECT event_type,
           CAST(SUM(n_events) AS BIGINT) AS n_all,
           CAST(SUM(sum_cents) AS BIGINT) AS sum_all
    FROM per_day GROUP BY 1
)
SELECT p.event_type, p.weekday, p.n_events,
       CAST(p.sum_cents / 100.0 AS DOUBLE) AS value_sum,
       CAST((CAST(p.sum_cents AS DOUBLE) / p.n_events)
            / (CAST(t.sum_all AS DOUBLE) / t.n_all) AS DOUBLE)
           AS seasonal_index
FROM per_day p JOIN totals t USING (event_type)
ORDER BY event_type, weekday
"""


@query("seasonality_weekday_index", oracle=_SEASONALITY_ORACLE)
def seasonality_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type (weekday mean ÷ overall
    mean) — the calendar baseline a seasonal anomaly screen divides out
    before applying the rolling z-score/median tests. Weekday is the
    engine-portable integer day-number-since-epoch mod 7 (0 = Thursday),
    sidestepping the engines' conflicting dayofweek() conventions.

    Scale shape: one partial-aggregated shuffle onto the O(types × 7)
    cell table; the per-type totals re-aggregate the CELLS (monoid
    re-aggregation, rollup_cascade discipline) and join back on the
    dust-sized table. Means stay exact integer sums until two final
    IEEE divisions with identical shape in both engines.
    """
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            F.floor(F.unix_micros("ts") / 86_400_000_000).cast("long") % 7
        ).alias("weekday"),
        cents("value").alias("cents"),
    )
    per_day = base.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    totals = per_day.groupBy("event_type").agg(
        F.sum("n_events").alias("n_all"),
        F.sum("sum_cents").alias("sum_all"),
    )
    return (
        per_day.join(totals, "event_type")
        .select(
            "event_type",
            "weekday",
            "n_events",
            (F.col("sum_cents") / 100.0).cast("double").alias("value_sum"),
            (
                (F.col("sum_cents").cast("double") / F.col("n_events"))
                / (F.col("sum_all").cast("double") / F.col("n_all"))
            )
            .cast("double")
            .alias("seasonal_index"),
        )
        .orderBy("event_type", "weekday")
    )


# --------------------------------------------------------------------------
# Behavioral path mining — top event-type trigram paths
# --------------------------------------------------------------------------

_PATH_TOPK = 10

_PATH_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
       CAST(COUNT(*) AS BIGINT)                 AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT)  AS n_users
FROM seq
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, path
LIMIT {_PATH_TOPK}
"""


@query("path_trigram_top", oracle=_PATH_ORACLE)
def path_trigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining one order up from event_transitions: the most common
    3-step behavioral sequences (event → next → next) across user
    timelines, with occurrence and distinct-user counts — the query
    behind "how do users actually reach purchase" funnel discovery.

    Scale shape: the two lead() offsets ride ONE user_id sort window
    (no self-joins — a 3-way sequence join would shuffle the fact
    twice more), paths collapse map-side onto at most |types|³ rows,
    and the top-k is TakeOrderedAndProject. Deterministic sequence
    order via (ts, event_id) and a path-string tie-break.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path"),
            "user_id",
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(_PATH_TOPK)
    )


# --------------------------------------------------------------------------
# OHLC bar resampling — the reference's financial domain, warehouse-scale
# --------------------------------------------------------------------------

_OHLC_BUCKET_MIN = 10

_OHLC_ORACLE = f"""
WITH pricked AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / ({_OHLC_BUCKET_MIN} * 60000000))
                AS BIGINT) AS bar,
           event_id,
           epoch_us(ts) AS t_us,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type, bar
                              ORDER BY t_us, event_id) AS rn_first,
           row_number() OVER (PARTITION BY event_type, bar
                              ORDER BY t_us DESC, event_id DESC) AS rn_last
    FROM pricked
)
SELECT event_type, bar,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(MAX(CASE WHEN rn_first = 1 THEN cents END) / 100.0 AS DOUBLE)
           AS open,
       CAST(MAX(cents) / 100.0 AS DOUBLE) AS high,
       CAST(MIN(cents) / 100.0 AS DOUBLE) AS low,
       CAST(MAX(CASE WHEN rn_last = 1 THEN cents END) / 100.0 AS DOUBLE)
           AS close,
       CAST(SUM(cents) / 100.0 AS DOUBLE) AS volume_value
FROM ranked
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("ohlc_resample_bars", oracle=_OHLC_ORACLE)
def ohlc_resample_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLCV bar resampling — the reference's own domain (daily OHLCV
    candles, `/root/reference/etl.py`) generalized to arbitrary-interval
    bars at warehouse scale: per (event_type, {m}-minute bucket), the
    open/high/low/close of `value` plus tick count and summed volume.

    Scale shape: ONE partial-aggregated shuffle — open/close are
    max_by/min_by against a `struct(unix_micros(ts), event_id)` ordering
    key (lexicographic struct comparison; event_id breaks timestamp
    ties deterministically), so no sort window and no per-bar
    first/last scan; high/low/volume ride the same agg.
    Integer-cent prices make every bar engine-exact. This is the shape
    a tick store materializes continuously (the streaming twin is
    stream_tumbling with these aggregates).
    """
    ev = table(spark, sf_dir, "events")
    bar = F.floor(
        F.unix_micros("ts") / (_OHLC_BUCKET_MIN * 60_000_000)
    ).cast("long")
    value_c = cents("value")
    pricked = ev.select(
        "event_type",
        bar.alias("bar"),
        value_c.alias("cents"),
        F.struct(F.unix_micros("ts").alias("t"), "event_id").alias("okey"),
    )
    return (
        pricked.groupBy("event_type", "bar")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            (F.min_by("cents", "okey") / 100.0).cast("double").alias("open"),
            (F.max("cents") / 100.0).cast("double").alias("high"),
            (F.min("cents") / 100.0).cast("double").alias("low"),
            (F.max_by("cents", "okey") / 100.0).cast("double").alias("close"),
            (F.sum("cents") / 100.0).cast("double").alias("volume_value"),
        )
        .orderBy("event_type", "bar")
    )


ohlc_resample_bars.__doc__ = ohlc_resample_bars.__doc__.format(
    m=_OHLC_BUCKET_MIN
)


# --------------------------------------------------------------------------
# Incremental view maintenance — merge a delta batch into a standing rollup
# --------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-11 00:00:00"

_IVM_ORACLE = f"""
WITH base AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS hwm_us
    FROM events WHERE ts <= TIMESTAMP '{_IVM_CUTOFF}' GROUP BY 1
),
delta AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS hwm_us
    FROM events WHERE ts > TIMESTAMP '{_IVM_CUTOFF}' GROUP BY 1
),
merged AS (
    SELECT COALESCE(b.event_type, d.event_type) AS event_type,
           COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
           COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS cents,
           GREATEST(COALESCE(b.hwm_us, 0), COALESCE(d.hwm_us, 0)) AS hwm_us
    FROM base b FULL OUTER JOIN delta d ON d.event_type = b.event_type
),
full_recompute AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS hwm_us
    FROM events GROUP BY 1
)
SELECT m.event_type,
       m.n AS n_events,
       CAST(m.cents / 100.0 AS DOUBLE) AS value_total,
       m.hwm_us AS high_watermark_us,
       (m.n = f.n AND m.cents = f.cents AND m.hwm_us = f.hwm_us)
           AS matches_full_recompute
FROM merged m JOIN full_recompute f USING (event_type)
ORDER BY event_type
"""


@query("rollup_delta_maintenance", oracle=_IVM_ORACLE)
def rollup_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance made explicit: a standing per-type
    rollup (count, exact sum, event-time high-water mark) is updated by
    MERGING a delta batch's partial aggregate — a full-outer join of
    two monoid states — and an in-plan certificate proves the merged
    view equals a from-scratch recompute. This is the contract behind
    refresh_daily_rollup and every nightly-load pattern: at 100 TB you
    aggregate the day's delta (pushed ts predicate → only new
    partitions scanned) and merge O(types) rows; you never rescan
    history. The recompute branch exists here only as the audit.

    All three states are exact integers (count / cents / max-micros),
    so merge-vs-recompute equality is bit-level, not approximate —
    count and sum merge by +, the watermark by MAX, the same
    commutative-monoid discipline as the HLL and CMS sketch rollups.
    """
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_c).alias("cents"),
            F.max(F.unix_micros("ts")).alias("hwm_us"),
        )

    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    base = state(ev.filter(F.col("ts") <= cutoff))
    delta = state(ev.filter(F.col("ts") > cutoff))
    b, d = base.alias("b"), delta.alias("d")
    merged = (
        b.join(d, F.col("b.event_type") == F.col("d.event_type"), "full_outer")
        .select(
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("b.cents"), F.lit(0))
                + F.coalesce(F.col("d.cents"), F.lit(0))
            ).alias("cents"),
            F.greatest(
                F.coalesce(F.col("b.hwm_us"), F.lit(0)),
                F.coalesce(F.col("d.hwm_us"), F.lit(0)),
            ).alias("hwm_us"),
        )
    )
    full = state(ev).select(
        F.col("event_type").alias("f_type"),
        F.col("n").alias("f_n"),
        F.col("cents").alias("f_cents"),
        F.col("hwm_us").alias("f_hwm"),
    )
    return (
        merged.join(full, merged.event_type == full.f_type)
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            (F.col("cents") / 100.0).cast("double").alias("value_total"),
            F.col("hwm_us").alias("high_watermark_us"),
            (
                (F.col("n") == F.col("f_n"))
                & (F.col("cents") == F.col("f_cents"))
                & (F.col("hwm_us") == F.col("f_hwm"))
            ).alias("matches_full_recompute"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Cohort LTV curve — cumulative revenue by acquisition cohort × age
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH keyed AS (
    SELECT o_custkey,
           CAST(date_part('year', o_orderdate) * 12
                + date_part('month', o_orderdate) AS BIGINT) AS ym,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
cohorts AS (
    SELECT o_custkey, MIN(ym) AS cohort_ym FROM keyed GROUP BY 1
),
cells AS (
    SELECT c.cohort_ym, k.ym - c.cohort_ym AS age_months,
           CAST(COUNT(DISTINCT k.o_custkey) AS BIGINT) AS n_active,
           CAST(SUM(k.cents) AS BIGINT) AS cents
    FROM keyed k JOIN cohorts c USING (o_custkey)
    GROUP BY 1, 2
)
SELECT cohort_ym, age_months, n_active,
       CAST(cents / 100.0 AS DOUBLE) AS revenue,
       CAST(SUM(cents) OVER (PARTITION BY cohort_ym ORDER BY age_months
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) / 100.0 AS DOUBLE)
           AS cum_revenue
FROM cells
ORDER BY cohort_ym, age_months
"""


@query("cohort_ltv_curve", oracle=_LTV_ORACLE)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves: revenue by acquisition cohort
    (first-order month) × account age in months, with the running
    cumulative — the money-sided twin of cohort_retention and the table
    every growth dashboard plots as LTV curves per cohort.

    Scale shape: cohort assignment is one custkey aggregation; the
    cohort join stays a key-clustered equi-join; cells collapse to
    O(months²) rows, and the cumulative window runs over that
    dust-sized table (never the fact). Months are integer year×12+month
    (engine-portable — no months_between float semantics), revenue is
    exact cents end-to-end including the running sum.
    """
    o = table(spark, sf_dir, "orders")
    ym = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate")
    ).cast("long")
    keyed = o.select(
        "o_custkey",
        ym.alias("ym"),
        cents("o_totalprice").alias("cents"),
    )
    cohorts = keyed.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    cells = (
        keyed.join(cohorts, "o_custkey")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_months")
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("cents"),
        )
    )
    cum = Window.partitionBy("cohort_ym").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cells.select(
        "cohort_ym",
        "age_months",
        "n_active",
        (F.col("cents") / 100.0).cast("double").alias("revenue"),
        (F.sum("cents").over(cum) / 100.0).cast("double").alias("cum_revenue"),
    ).orderBy("cohort_ym", "age_months")


# --------------------------------------------------------------------------
# Month-over-month revenue growth — the reporting staple
# --------------------------------------------------------------------------

_MOM_ORACLE = """
WITH monthly AS (
    SELECT CAST(date_part('year', o_orderdate) * 12
                + date_part('month', o_orderdate) AS BIGINT) AS ym,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
)
SELECT ym, n_orders,
       CAST(cents / 100.0 AS DOUBLE) AS revenue,
       CAST(round((CAST(cents AS DOUBLE)
                   / lag(cents) OVER (ORDER BY ym) - 1.0) * 1000000)
            AS BIGINT) AS growth_micro
FROM monthly
ORDER BY ym
"""


@query("revenue_mom_growth", oracle=_MOM_ORACLE)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the first page of every
    business review: exact monthly revenue (integer year×12+month keys,
    cents end-to-end) with the growth rate vs the prior month as
    micro-rounded integers (NULL for the first month, matching lag
    semantics in both engines).

    Scale shape: one partial-aggregated shuffle onto O(months) rows;
    the lag window runs over that dust-sized series. The unpartitioned
    window is safe precisely BECAUSE the aggregation precedes it —
    the single-partition sort sees months, never orders.
    """
    o = table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    monthly = o.groupBy(ym.alias("ym")).agg(
        F.sum(cents("o_totalprice")).alias(
            "cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("ym")
    growth = cents(F.col("cents").cast("double") / F.lag("cents").over(w) - 1.0, 6)
    return monthly.select(
        "ym",
        "n_orders",
        (F.col("cents") / 100.0).cast("double").alias("revenue"),
        growth.alias("growth_micro"),
    ).orderBy("ym")


# --------------------------------------------------------------------------
# Additive seasonal decomposition — trend / seasonal / residual
# --------------------------------------------------------------------------

_DECOMP_HALF = 3  # centered 7-day trend window

_DECOMP_ORACLE = """
WITH daily AS (
    SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
trended AS (
    SELECT epoch_day, n_rows,
           SUM(n_rows) OVER w AS s7,
           COUNT(*) OVER w AS c7
    FROM daily
    WINDOW w AS (ORDER BY epoch_day ROWS BETWEEN 3 PRECEDING
                 AND 3 FOLLOWING)
),
det AS (
    SELECT epoch_day, n_rows,
           CAST(round(s7 * 1000000.0 / 7) AS BIGINT) AS trend_micro,
           CAST(n_rows * 1000000 - round(s7 * 1000000.0 / 7) AS BIGINT)
               AS detrended_micro,
           epoch_day % 7 AS weekday
    FROM trended WHERE c7 = 7
),
seas AS (
    SELECT weekday,
           CAST(round(SUM(detrended_micro) * 1.0 / COUNT(*)) AS BIGINT)
               AS seasonal_micro
    FROM det GROUP BY 1
)
SELECT d.epoch_day, d.n_rows, d.trend_micro, s.seasonal_micro,
       CAST(d.detrended_micro - s.seasonal_micro AS BIGINT)
           AS residual_micro
FROM det d JOIN seas s USING (weekday)
ORDER BY d.epoch_day
"""


@query("seasonal_decompose_additive", oracle=_DECOMP_ORACLE)
def seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily ingest
    series: value = trend + seasonal + residual. Trend is the centered
    7-day moving average (full windows only — the textbook edge
    convention), the seasonal component is the per-weekday mean of the
    detrended series (weekday = epoch-day mod 7, the engine-portable
    device from seasonality_weekday_index), and the residual is what
    anomaly screens should actually test — the series with calendar
    structure removed, the STL decomposition's additive
    little sibling.

    Exactness: counts are integers; the trend is an exact-integer
    ratio rounded to micro-units ONCE, the seasonal means are exact
    integer ratios of those micro-ints, and the residual is pure
    integer subtraction — no float ever meets another float.

    Scale shape: the fact collapses to one row per day FIRST; the
    centered frame, the 7-cell weekday aggregate, and the join back
    all run on the dust-sized day table. The unpartitioned ORDER BY
    sees days, never events — the accepted post-agg global-window
    shape.
    """
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            (F.unix_micros("ts") / 86_400_000_000)
            .cast("long")
            .alias("epoch_day")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.orderBy("epoch_day").rowsBetween(-_DECOMP_HALF, _DECOMP_HALF)
    trended = daily.select(
        "epoch_day",
        "n_rows",
        F.sum("n_rows").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    )
    trend_micro = F.round(F.col("s7") * 1_000_000.0 / 7).cast("long")
    det = trended.filter(F.col("c7") == 7).select(
        "epoch_day",
        "n_rows",
        trend_micro.alias("trend_micro"),
        (F.col("n_rows") * 1_000_000 - trend_micro)
        .cast("long")
        .alias("detrended_micro"),
        (F.col("epoch_day") % 7).alias("weekday"),
    )
    seas = det.groupBy("weekday").agg(
        F.round(F.sum("detrended_micro") * 1.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("seasonal_micro")
    )
    return (
        det.join(F.broadcast(seas), "weekday")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .select(
            "epoch_day",
            "n_rows",
            "trend_micro",
            "seasonal_micro",
            (F.col("detrended_micro") - F.col("seasonal_micro"))
            .cast("long")
            .alias("residual_micro"),
        )
        .orderBy("epoch_day")
    )


# --------------------------------------------------------------------------
# SES forecast + walk-forward backtest — forecasting with honest scoring
# --------------------------------------------------------------------------

_SES_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
seq AS (
    SELECT event_type, x,
           row_number() OVER (PARTITION BY event_type ORDER BY epoch_day)
               AS rn,
           lag(x) OVER (PARTITION BY event_type ORDER BY epoch_day)
               AS prev_x
    FROM daily
),
r AS (
    SELECT event_type, rn, x, CAST(NULL AS BIGINT) AS forecast, x AS s
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT e.event_type, e.rn, e.x, r.s,
           CAST(floor((r.s + e.x) / 2.0) AS BIGINT)
    FROM r JOIN seq e ON e.event_type = r.event_type AND e.rn = r.rn + 1
)
SELECT r.event_type,
       CAST(COUNT(r.forecast) AS BIGINT) AS n_forecasts,
       CAST(SUM(abs(r.x - r.forecast)) AS BIGINT) AS ses_abs_err,
       CAST(round(SUM(abs(r.x - r.forecast)) * 1000.0
                  / COUNT(r.forecast)) AS BIGINT) AS ses_mae_milli,
       CAST(SUM(abs(s.x - s.prev_x)) AS BIGINT) AS naive_abs_err,
       CAST(round(SUM(abs(s.x - s.prev_x)) * 1000.0
                  / COUNT(s.prev_x)) AS BIGINT) AS naive_mae_milli,
       SUM(abs(r.x - r.forecast)) < SUM(abs(s.x - s.prev_x))
           AS ses_beats_naive
FROM r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn
WHERE r.forecast IS NOT NULL
GROUP BY r.event_type
ORDER BY r.event_type
"""


@query("forecast_ses_backtest", oracle=_SES_ORACLE)
def forecast_ses_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecasting with a WALK-FORWARD backtest: simple
    exponential smoothing (α = 1/2, the ewma_smoothing integer-floor
    recurrence, so state stays bit-exact) over each series' daily
    counts, where day t's forecast is the state BEFORE t was seen —
    never trained on its own target. Scored per series as MAE against
    the naive persistence baseline (forecast = yesterday), which is the
    honesty check every forecast eval needs: a model that can't beat
    persistence has no signal.

    Scale shape: the fact collapses to the types×days dust table FIRST
    (one partial-aggregated shuffle); the sequential recurrence then
    runs as one grouped Arrow sweep per series — bounded state (one
    int64), series independent, the sessionize/ewma clustering
    discipline — and the scoring is a ≤types-row aggregate. The DuckDB
    oracle replays the identical recurrence as a recursive CTE.
    """
    import pandas as pd  # noqa: PLC0415

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000)
            .cast("long")
            .alias("epoch_day"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )

    out_schema = (
        "event_type string, n_forecasts long, ses_abs_err long, "
        "naive_abs_err long"
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("epoch_day")
        xs = pdf["x"].to_numpy()
        s = int(xs[0])
        ses_err = naive_err = 0
        for t in range(1, len(xs)):
            x = int(xs[t])
            ses_err += abs(x - s)
            naive_err += abs(x - int(xs[t - 1]))
            s = (s + x) // 2
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_forecasts": [len(xs) - 1],
                "ses_abs_err": [ses_err],
                "naive_abs_err": [naive_err],
            }
        )

    scored = daily.groupBy("event_type").applyInPandas(sweep, out_schema)
    return scored.select(
        "event_type",
        "n_forecasts",
        "ses_abs_err",
        F.round(F.col("ses_abs_err") * 1000.0 / F.col("n_forecasts"))
        .cast("long")
        .alias("ses_mae_milli"),
        "naive_abs_err",
        F.round(F.col("naive_abs_err") * 1000.0 / F.col("n_forecasts"))
        .cast("long")
        .alias("naive_mae_milli"),
        (F.col("ses_abs_err") < F.col("naive_abs_err")).alias(
            "ses_beats_naive"
        ),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# CUSUM changepoint screen — integer-exact cumulative drift detection
# --------------------------------------------------------------------------

_CUSUM_THRESH_PCT = 10  # flag when |scaled cusum| > 10% of total*days

_CUSUM_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS days
    FROM daily GROUP BY 1
),
cusum AS (
    SELECT d.event_type, d.day, d.n,
           SUM(d.n * t.days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
           ) AS cusum_scaled,
           t.total, t.days
    FROM daily d JOIN tot t USING (event_type)
)
SELECT event_type, day, n,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       ABS(cusum_scaled) * 100 > {_CUSUM_THRESH_PCT} * total * days
           AS changepoint
FROM cusum
ORDER BY event_type, day
"""


@query("anomaly_cusum_changepoint", oracle=_CUSUM_ORACLE)
def anomaly_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen over daily ingest volumes (Page 1954):
    the cumulative sum of deviations from the series mean stays near
    zero under a stable rate and runs away linearly after a level
    shift — the detector ops teams run on ingest counters where a
    rolling z-score (dq_volume_anomaly) only sees single-day spikes.

    Integer-exact device: deviations are scaled by the day count
    (n·days − total), making every cumulative sum an EXACT bigint on
    both engines — no float accumulation order to disagree about — and
    the threshold compares scaled integers (|cusum|·100 >
    {p}·total·days).

    Scale shape: one partial-aggregated collapse to (type, day) dust,
    a broadcast-sized totals join, and one ordered window per type
    over the day table.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("days")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cusum = (
        daily.join(F.broadcast(tot), "event_type")  # bounded: 1-row global aggregate
        .withColumn(
            "cusum_scaled",
            F.sum(
                F.col("n") * F.col("days") - F.col("total")
            ).over(w),
        )
    )
    return cusum.select(
        "event_type",
        "day",
        "n",
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        (
            F.abs(F.col("cusum_scaled")) * 100
            > _CUSUM_THRESH_PCT * F.col("total") * F.col("days")
        ).alias("changepoint"),
    ).orderBy("event_type", "day")


anomaly_cusum_changepoint.__doc__ = anomaly_cusum_changepoint.__doc__.format(
    p=_CUSUM_THRESH_PCT
)


# --------------------------------------------------------------------------
# Hampel filter: rolling-median ± MAD robust outlier flags
# --------------------------------------------------------------------------

_HAMPEL_K = 11  # odd trailing window: integer cents give an integer median

_HAMPEL_ORACLE = f"""
WITH w AS (
    SELECT user_id, event_id,
           CAST(round(value * 100) AS BIGINT) AS c,
           list(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_HAMPEL_K - 1} PRECEDING AND CURRENT ROW
           ) AS arr
    FROM events
),
m AS (
    SELECT user_id, event_id, c, arr,
           CAST(CAST(list_aggregate(arr, 'median') AS DOUBLE) AS BIGINT)
               AS med
    FROM w WHERE len(arr) = {_HAMPEL_K}
),
f AS (
    SELECT user_id, event_id, c, med,
           CAST(CAST(list_aggregate(
                   list_transform(arr, v -> abs(v - med)), 'median')
               AS DOUBLE) AS BIGINT) AS mad
    FROM m
)
SELECT user_id, event_id,
       CAST(med / 100.0 AS DOUBLE) AS rolling_med,
       CAST(mad / 100.0 AS DOUBLE) AS rolling_mad,
       CAST(CASE WHEN abs(c - med) > 3 * mad THEN 1 ELSE 0 END AS BIGINT)
           AS is_outlier
FROM f
"""


@query("window_hampel_outliers", oracle=_HAMPEL_ORACLE)
def window_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter per user series: flag events whose value sits more
    than 3 MADs from the trailing {k}-event rolling median — the robust
    outlier screen that doesn't let the outlier inflate its own
    threshold (the failure mode of anomaly_rolling_zscore's mean/stddev
    under heavy tails). Emits only full-window rows, the standard
    warm-up convention.

    Plan shape: the same ONE-shuffle repartition + sortWithinPartitions
    sweep as window_rolling_median, with both order statistics computed
    in a strided numpy kernel per contiguous user run
    (sliding_window_view → per-window median, then median of absolute
    deviations — all C loops, no per-row Python), and a ≤{km1}-row carry
    stitching users across Arrow batch boundaries.

    Exactness: cents are integers and the window length is odd, so the
    rolling median IS an integer, deviations are integers, and the MAD
    is an integer — every comparison and output is exact integer math;
    no rounding discipline needed anywhere.
    """
    return hampel_flags(table(spark, sf_dir, "events"))


def hampel_flags(events: DataFrame, k: int = _HAMPEL_K) -> DataFrame:
    """Hampel core over any (user_id, event_id, ts, value) frame; see
    window_hampel_outliers. Closed-form-proven at 2M rows (isolated
    spikes on a constant series flag exactly the spike positions, MAD
    identically zero) by tests/test_scale_smoke.py."""
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    ev = (
        events
        .select(
            "user_id",
            "event_id",
            "ts",
            cents("value").alias("cents"),
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )

    def hampel_positions(work: pd.DataFrame):
        """Full-window rows of `work` as (positions, med, mad) arrays:
        per contiguous user run, strided windows -> median and MAD."""
        uid = work["user_id"].to_numpy()
        c = work["cents"].to_numpy()
        pos_parts: list[np.ndarray] = []
        med_parts: list[np.ndarray] = []
        mad_parts: list[np.ndarray] = []
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        bounds = np.r_[starts, len(uid)]
        for s0, e0 in zip(bounds[:-1], bounds[1:]):
            if e0 - s0 < k:
                continue
            wview = np.lib.stride_tricks.sliding_window_view(c[s0:e0], k)
            med = np.median(wview, axis=1)
            mad = np.median(np.abs(wview - med[:, None]), axis=1)
            pos_parts.append(np.arange(s0 + k - 1, e0))
            med_parts.append(med)
            mad_parts.append(mad)
        if not pos_parts:
            z = np.empty(0)
            return z.astype("int64"), z, z
        return (
            np.concatenate(pos_parts).astype("int64"),
            np.concatenate(med_parts),
            np.concatenate(mad_parts),
        )

    def sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if (
                carry is not None
                and len(carry)
                and pdf["user_id"].iloc[0] == carry["user_id"].iloc[0]
            ):
                work = pd.concat([carry, pdf], ignore_index=True)
                n_carry = len(carry)
            else:
                work, n_carry = pdf, 0
            pos, med, mad = hampel_positions(work)
            # Carry rows (positions < n_carry) were the previous batch's
            # rows: it emitted them iff their full window existed there,
            # and the carry always holds the user's complete trailing
            # history up to k-1 rows — so "new row with a full window in
            # work" is exactly "row whose true trailing window is full",
            # each row emitted at most once.
            keep = pos >= n_carry
            pos, med, mad = pos[keep], med[keep], mad[keep]
            sel = work.iloc[pos]
            c_sel = sel["cents"].to_numpy()
            yield pd.DataFrame(
                {
                    "user_id": sel["user_id"].to_numpy(),
                    "event_id": sel["event_id"].to_numpy(),
                    "rolling_med": med / 100.0,
                    "rolling_mad": mad / 100.0,
                    "is_outlier": (
                        np.abs(c_sel - med) > 3 * mad
                    ).astype("int64"),
                }
            )
            last_user = work["user_id"].iloc[-1]
            carry = (
                work[work["user_id"] == last_user]
                .tail(k - 1)[["user_id", "event_id", "cents"]]
                .reset_index(drop=True)
            )

    return ev.mapInPandas(
        sweep,
        "user_id long, event_id long, rolling_med double,"
        " rolling_mad double, is_outlier long",
    )


window_hampel_outliers.__doc__ = window_hampel_outliers.__doc__.format(
    k=_HAMPEL_K, km1=_HAMPEL_K - 1
)


# --------------------------------------------------------------------------
# Holt linear-trend forecast + walk-forward backtest (SES's 2-state twin)
# --------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
seq AS (
    SELECT event_type, x,
           row_number() OVER (PARTITION BY event_type ORDER BY epoch_day)
               AS rn,
           lag(x) OVER (PARTITION BY event_type ORDER BY epoch_day)
               AS prev_x
    FROM daily
),
r AS (
    SELECT s2.event_type, s2.rn, s2.x,
           CAST(NULL AS BIGINT) AS forecast_milli,
           s2.x * 1000 AS l,
           (s2.x - s1.x) * 1000 AS b
    FROM seq s2 JOIN seq s1
      ON s1.event_type = s2.event_type AND s1.rn = 1
    WHERE s2.rn = 2
    UNION ALL
    SELECT e.event_type, e.rn, e.x,
           r.l + r.b,
           CAST(floor((r.l + r.b + e.x * 1000) / 2.0) AS BIGINT),
           CAST(floor((r.b
                       + CAST(floor((r.l + r.b + e.x * 1000) / 2.0)
                              AS BIGINT) - r.l) / 2.0) AS BIGINT)
    FROM r JOIN seq e ON e.event_type = r.event_type AND e.rn = r.rn + 1
)
SELECT r.event_type,
       CAST(COUNT(r.forecast_milli) AS BIGINT) AS n_forecasts,
       CAST(SUM(abs(r.x * 1000 - r.forecast_milli)) AS BIGINT)
           AS holt_abs_err_milli,
       CAST(round(SUM(abs(r.x * 1000 - r.forecast_milli)) * 1.0
                  / COUNT(r.forecast_milli)) AS BIGINT)
           AS holt_mae_milli,
       CAST(SUM(abs(s.x - s.prev_x) * 1000) AS BIGINT)
           AS naive_abs_err_milli,
       SUM(abs(r.x * 1000 - r.forecast_milli))
           < SUM(abs(s.x - s.prev_x) * 1000) AS holt_beats_naive
FROM r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn
WHERE r.forecast_milli IS NOT NULL
GROUP BY r.event_type
ORDER BY r.event_type
"""


@query("forecast_holt_linear", oracle=_HOLT_ORACLE)
def forecast_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend method with a walk-forward backtest — the
    2-state upgrade of forecast_ses_backtest for series with drift
    (SES lags a trending series by construction; Holt carries an
    explicit trend state). α = β = 1/2, states in integer MILLI-units
    with floor updates, so the recurrence is bit-exact and replayed by
    the oracle's recursive CTE:

        f_t = l + b;  l' = ⌊(f_t + 1000·x_t)/2⌋;  b' = ⌊(b + l' − l)/2⌋

    classic 2-point init (l = 1000·x₂, b = 1000·(x₂ − x₁)), forecasts
    begin at t = 3, each made strictly BEFORE its target is seen.
    Scored per series as milli-MAE against the persistence baseline —
    the same honesty gate as SES.

    Scale shape: identical to SES — one partial-aggregated shuffle to
    the types×days dust, one grouped Arrow sweep per series with O(1)
    integer state, a ≤types-row score table.
    """
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000)
            .cast("long")
            .alias("epoch_day"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return holt_backtest(daily)


def holt_backtest(daily: DataFrame) -> DataFrame:
    """Holt walk-forward core over any (event_type, epoch_day, x: long)
    series frame; see forecast_holt_linear. Closed-form-proven at
    volume (a perfectly linear series forecasts with ZERO error while
    persistence pays the slope every step) by
    tests/test_scale_smoke.py."""
    import pandas as pd  # noqa: PLC0415

    out_schema = (
        "event_type string, n_forecasts long, holt_abs_err_milli long, "
        "naive_abs_err_milli long"
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("epoch_day")
        xs = pdf["x"].to_numpy()
        if len(xs) < 3:
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "n_forecasts": pd.Series([], dtype="int64"),
                    "holt_abs_err_milli": pd.Series([], dtype="int64"),
                    "naive_abs_err_milli": pd.Series([], dtype="int64"),
                }
            )
        lv = int(xs[1]) * 1000
        b = (int(xs[1]) - int(xs[0])) * 1000
        holt_err = naive_err = 0
        for t in range(2, len(xs)):
            x = int(xs[t])
            f = lv + b
            holt_err += abs(x * 1000 - f)
            naive_err += abs(x - int(xs[t - 1])) * 1000
            new_l = (f + x * 1000) // 2
            b = (b + new_l - lv) // 2
            lv = new_l
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_forecasts": [len(xs) - 2],
                "holt_abs_err_milli": [holt_err],
                "naive_abs_err_milli": [naive_err],
            }
        )

    scored = daily.groupBy("event_type").applyInPandas(sweep, out_schema)
    return scored.select(
        "event_type",
        "n_forecasts",
        "holt_abs_err_milli",
        F.round(F.col("holt_abs_err_milli") * 1.0 / F.col("n_forecasts"))
        .cast("long")
        .alias("holt_mae_milli"),
        "naive_abs_err_milli",
        (
            F.col("holt_abs_err_milli") < F.col("naive_abs_err_milli")
        ).alias("holt_beats_naive"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# MAD outlier screen — exact-median robust outliers per event type
# --------------------------------------------------------------------------

# Hampel rule threshold: |x − med| > 3·1.4826·MAD. Evaluated as ONE
# shared double comparison on the exact doubled deviations (dev2 =
# |2x − m2|, mad4 = 4·MAD): dev2 > 3·1.4826·(mad4/2). When mad4 = 0
# (≥ half the group sits exactly at the median) every nonzero
# deviation flags — the textbook MAD degeneracy, kept as defined
# semantics (identical in both engines).
_MAD_FLAG = (
    "CAST(dev2 AS DOUBLE) > 3.0 * 1.4826 * (CAST(mad4 AS DOUBLE) / 2.0)"
)

# Doubled middle-order-statistic selector (the trend_theil_sen device):
# ranks r1 = (n+1) DIV 2 and r2 = (n+2) DIV 2 hit exactly the one (odd
# n, twice) or two (even n) middle ranks; a distinct value whose rank
# interval (cum_before, cum_before + t] covers a middle rank
# contributes once per covered rank, so the doubled median is an exact
# integer Σ v·covered — no float averaging anywhere.
def _mad_mid2(v: str) -> str:
    return (
        f"SUM({v} * ((CASE WHEN (n + 1) // 2 > cum_before"
        f" AND (n + 1) // 2 <= cum_before + t THEN 1 ELSE 0 END)"
        f" + (CASE WHEN (n + 2) // 2 > cum_before"
        f" AND (n + 2) // 2 <= cum_before + t THEN 1 ELSE 0 END)))"
    )


_MAD_ORACLE = f"""
WITH base AS (
    SELECT event_type AS grp,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
gv AS (
    SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS t
    FROM base GROUP BY 1, 2
),
tot AS (
    SELECT grp, CAST(SUM(t) AS BIGINT) AS n FROM gv GROUP BY grp
),
cum AS (
    SELECT gv.grp, gv.cents, gv.t, tot.n,
           COALESCE(SUM(gv.t) OVER (
               PARTITION BY gv.grp ORDER BY gv.cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM gv JOIN tot ON tot.grp = gv.grp
),
med AS (
    SELECT grp, CAST({_mad_mid2('cents')} AS BIGINT) AS m2
    FROM cum GROUP BY grp
),
dv AS (
    SELECT gv.grp, ABS(2 * gv.cents - med.m2) AS dev2,
           CAST(SUM(gv.t) AS BIGINT) AS t
    FROM gv JOIN med ON med.grp = gv.grp
    GROUP BY 1, 2
),
dcum AS (
    SELECT dv.grp, dv.dev2, dv.t, tot.n,
           COALESCE(SUM(dv.t) OVER (
               PARTITION BY dv.grp ORDER BY dv.dev2
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM dv JOIN tot ON tot.grp = dv.grp
),
mad AS (
    SELECT grp, CAST({_mad_mid2('dev2')} AS BIGINT) AS mad4
    FROM dcum GROUP BY grp
),
flags AS (
    SELECT dv.grp,
           CAST(SUM(CASE WHEN {_MAD_FLAG} THEN dv.t ELSE 0 END)
               AS BIGINT) AS n_outliers
    FROM dv JOIN mad ON mad.grp = dv.grp
    GROUP BY dv.grp
)
SELECT t.grp, t.n, med.m2 AS med2_cents, mad.mad4 AS mad4_cents,
       f.n_outliers,
       CAST((1000000 * f.n_outliers) // t.n AS BIGINT) AS outlier_ppm
FROM tot t
JOIN med ON med.grp = t.grp
JOIN mad ON mad.grp = t.grp
JOIN flags f ON f.grp = t.grp
ORDER BY t.grp
"""


@query("anomaly_mad_outliers", oracle=_MAD_ORACLE)
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type — the
    ROBUST complement to anomaly_rolling_zscore: mean/stddev break
    down exactly when outliers are present (masking), while the
    median/MAD pair has a 50% breakdown point (Hampel identifier;
    Leys et al. 2013 is the standard methods citation). Emits, per
    group, the exact doubled median, exact 4·MAD, and the Hampel
    outlier count at the conventional 3·1.4826·MAD fence.

    Cross-engine exactness: both medians come from the doubled
    middle-order-statistic device (trend_theil_sen's discipline — the
    (n+1) DIV 2 / (n+2) DIV 2 ranks hit the exact middle(s); no float
    averaging), deviations are exact integers |2x − m2|, and the one
    double comparison against the 1.4826 consistency constant is a
    single shared expression. mad4 = 0 degeneracy keeps the textbook
    behavior (every nonzero deviation flags) identically in both
    engines.

    Scale shape: the fact collapses once to per-(group, value) counts
    (one partial-aggregated shuffle); every window runs PARTITIONED BY
    GROUP over that distinct-value dust (no global single-partition
    sort), and the deviation re-aggregation stays on dust because
    distinct deviations ≤ distinct values. At 100 TB the device is the
    standard two-pass exact-median-at-scale plan, sharded by group.
    """
    ev = table(spark, sf_dir, "events")
    gv = (
        ev.select(
            F.col("event_type").alias("grp"),
            cents("value").alias("cents"),
        )
        .groupBy("grp", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .localCheckpoint(eager=False)
    )
    tot = gv.groupBy("grp").agg(F.sum("t").cast("long").alias("n"))

    def mid2(frame: DataFrame, vcol: str) -> DataFrame:
        cum = (
            frame.join(tot, "grp")
            .withColumn(
                "cum_before",
                F.coalesce(
                    F.sum("t").over(
                        Window.partitionBy("grp")
                        .orderBy(vcol)
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
        )
        return cum.groupBy("grp").agg(
            F.expr(_mad_mid2(vcol).replace("//", "DIV"))
            .cast("long")
            .alias("m2_" + vcol)
        )

    med = mid2(gv, "cents").withColumnRenamed("m2_cents", "m2")
    dv = (
        gv.join(med, "grp")
        .groupBy(
            "grp", F.abs(2 * F.col("cents") - F.col("m2")).alias("dev2")
        )
        .agg(F.sum("t").cast("long").alias("t"))
        .localCheckpoint(eager=False)
    )
    mad = mid2(dv, "dev2").withColumnRenamed("m2_dev2", "mad4")
    flags = (
        dv.join(mad, "grp")
        .groupBy("grp")
        .agg(
            F.sum(F.expr(f"CASE WHEN {_MAD_FLAG} THEN t ELSE 0 END"))
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        tot.join(med, "grp")
        .join(mad, "grp")
        .join(flags, "grp")
        .select(
            "grp",
            "n",
            F.col("m2").alias("med2_cents"),
            F.col("mad4").alias("mad4_cents"),
            "n_outliers",
            F.expr("CAST((1000000 * n_outliers) DIV n AS BIGINT)").alias(
                "outlier_ppm"
            ),
        )
        .orderBy("grp")
    )
