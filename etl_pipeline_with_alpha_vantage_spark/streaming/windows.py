"""Event-time windowing (SURVEY.md X18-X19).

The window operators (tumbling / sliding / session) are *identical
expressions* in batch and streaming mode — ``F.window`` /
``F.session_window`` over the same DataFrame API. They're registered here
as batch queries so the driver can oracle-check the window semantics
against SQL; ``runner.py`` executes the same expressions as a true
Structured Streaming job (file source → watermark → availableNow) and the
tests assert stream-equals-batch.

Sums use scaled integers (functions.exact) for cross-engine hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, dsum
from ..registry import query

_TUMBLING_ORACLE = """
SELECT
    event_type,
    time_bucket(INTERVAL '10 minutes', ts)                        AS window_start,
    time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@query("stream_tumbling", oracle=_TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: 10-minute tumbling windows per event type. In streaming mode
    the same expression is incremental with watermark-bounded state; in
    batch it's a plain hash aggregation on (type, bucket)."""
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes")
    return (
        ev.groupBy("event_type", win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


_SLIDING_ORACLE = """
WITH assigned AS (
    SELECT event_type, value,
           time_bucket(INTERVAL '5 minutes', ts) AS window_start
    FROM events
    UNION ALL
    SELECT event_type, value,
           time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
    FROM events
)
SELECT
    event_type,
    window_start,
    window_start + INTERVAL '10 minutes' AS window_end,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS total_value
FROM assigned
GROUP BY 1, 2, 3
"""


@query("stream_sliding", oracle=_SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: 10-minute windows sliding every 5 — each event lands in two
    windows (Spark expands via its window generator; the oracle spells the
    two bucket assignments out with a UNION ALL)."""
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy("event_type", win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


_SESSION_ORACLE = """
WITH flagged AS (
    SELECT
        user_id, ts, value,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  > INTERVAL '30 minutes'
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT *,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT
    user_id,
    MIN(ts)                          AS session_start,
    MAX(ts) + INTERVAL '30 minutes'  AS session_end,
    CAST(COUNT(*) AS BIGINT)         AS n_events,
    CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
                                     AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


@query("stream_session", oracle=_SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: session windows with a 30-minute inactivity gap per user.

    Spark's native session_window merges adjacent events server-side with
    bounded per-key state (streaming-safe); the oracle derives identical
    sessions via gaps-and-islands SQL. Session end = last event + gap
    (Spark's definition; the oracle mirrors it).
    """
    ev = table(spark, sf_dir, "events")
    win = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_DEDUP_WINDOW_ORACLE = """
WITH deduped AS (
    SELECT DISTINCT ON (event_id) event_id, ts, event_type, value
    FROM events
)
SELECT
    event_type,
    time_bucket(INTERVAL '1 hour', ts) AS window_start,
    CAST(COUNT(*) AS BIGINT) AS n_events
FROM deduped
GROUP BY 1, 2
"""


@query("stream_dedup_window", oracle=_DEDUP_WINDOW_ORACLE)
def stream_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 batch twin: dropDuplicates on event_id then hourly counts —
    the exact transformation runner.py executes as a watermarked stream
    (``withWatermark('ts','1 hour').dropDuplicates(['event_id'])``);
    tests assert the streamed result equals this batch result."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            "n_events",
        )
    )


_JOIN_ORACLE = """
SELECT
    p.event_id                        AS purchase_id,
    c.event_id                        AS click_id,
    p.user_id                         AS user_id,
    p.ts                              AS purchase_ts,
    c.ts                              AS click_ts,
    CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
"""


@query("stream_join_attribution", oracle=_JOIN_ORACLE)
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: purchase↔click attribution — the batch twin of a watermarked
    stream-stream interval join (clicks attributed to a purchase they
    precede by ≤ 6 h, per user). Batch plans one shuffle on user_id with
    the time band as a join residual; the streaming form
    (runner.run_stream_stream_join) keeps only 6 h + watermark of click
    state per user, which is what makes it viable on an unbounded stream.
    Tests assert stream output ≡ this query.
    """
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
    )


_JOIN_OUTER_ORACLE = """
SELECT
    p.event_id                        AS purchase_id,
    c.event_id                        AS click_id,
    p.user_id                         AS user_id,
    p.ts                              AS purchase_ts,
    c.ts                              AS click_ts,
    CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
WHERE p.event_type = 'purchase'
"""


@query("stream_join_attribution_outer", oracle=_JOIN_OUTER_ORACLE)
def stream_join_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18 widening: LEFT OUTER purchase↔click attribution — every
    purchase emits, with nulls when no same-user click preceded it by
    ≤ 6 h. The outer side is the semantics inner joins can't express:
    "which conversions had NO attributable touchpoint".

    This is the batch twin (one user_id shuffle, band as residual). The
    streaming form (runner.attribution_join_stream_outer) is the same
    join with how='leftOuter': matched pairs emit like the inner join,
    and a purchase's NULL row emits only once the CLICK-side watermark
    passes its timestamp (no in-band click can still arrive) — so on a
    drained bounded replay the tail purchases younger than the final
    watermark hold back their null rows, exactly the documented
    engine semantics (tests/test_streaming.py asserts both halves).
    """
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
        "left",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
    )


_JOIN_FULL_ORACLE = """
WITH p AS (
    SELECT event_id AS purchase_id, user_id AS p_user_id,
           ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id AS click_id, user_id AS c_user_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT purchase_id,
       click_id,
       COALESCE(p_user_id, c_user_id) AS user_id,
       purchase_ts,
       click_ts,
       CAST(epoch_us(purchase_ts) - epoch_us(click_ts) AS BIGINT) AS lag_us
FROM p
FULL JOIN c
  ON p.p_user_id = c.c_user_id
 AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 6 HOUR AND p.purchase_ts
"""


@query("stream_join_attribution_full", oracle=_JOIN_FULL_ORACLE)
def stream_join_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18 completion: FULL OUTER purchase↔click attribution — the last
    stream-stream join type. Beyond the left join's "conversions with
    no touchpoint", the full join also surfaces the reverse residual:
    clicks that converted NOTHING within the 6 h band (wasted-spend
    analysis reads exactly this side).

    This is the batch twin (one user_id shuffle, band as residual).
    The streaming form (runner.attribution_join_stream_full) uses
    how='fullOuter': matched pairs emit on join; a purchase's
    NULL-click row emits once the click watermark passes purchase_ts;
    a click's NULL-purchase row emits once the purchase watermark
    passes click_ts + 6 h (only then can no future purchase land in
    its band) — drained-replay semantics asserted in
    tests/test_streaming.py.
    """
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = p.join(
        c,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
        "full",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user_id", "c_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
    )


# --------------------------------------------------------------------------
# Stream-static enrichment join (dimension broadcast into a stream)
# --------------------------------------------------------------------------


def enrich_events_with_segment(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: attach the customer's market segment to each
    event. Works identically on a batch or streaming `events` DataFrame —
    a stream-static equi-join is stateless (each micro-batch probes the
    static side), so no watermark is needed and append mode is legal.

    The dim side is deliberately UNhinted (round 11): customer is an
    O(SF) table, and a forced broadcast of a 10⁹-row dim is a driver
    OOM. The planner's size-based selection broadcasts it per
    micro-batch while it fits the threshold (the common case, and what
    every local run plans) and degrades to a shuffle join instead of
    crashing when it doesn't.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return events.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )


_ENRICH_ORACLE = """
SELECT
    c.c_mktsegment,
    e.event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
"""


@query("stream_static_enrich", oracle=_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: batch twin of the stream-static enrichment — the same
    `enrich_events_with_segment` join, rolled up per (segment, type).
    `test_stream_static_join_equals_batch` runs the identical join as a
    true file-source stream and asserts the aggregated sink matches."""
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    return (
        enrich_events_with_segment(ev, cust)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState) — batch twin
# --------------------------------------------------------------------------

_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
           AS total_value
FROM events
GROUP BY user_id
"""


@query("stream_stateful_totals", oracle=_STATEFUL_ORACLE)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19/X20: batch twin of `streaming.stateful.running_user_totals`,
    the applyInPandasWithState custom operator (exact running
    (count, cents-sum) state per user, updated each micro-batch).
    `test_stateful_running_totals_equals_batch` drains the true stream
    and asserts its final state equals exactly this aggregation.

    Scale note: the streaming operator's state is two bigints per user —
    bounded by the user population, not event volume — and this batch
    twin is a single partial+final hash aggregate on user_id.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# --------------------------------------------------------------------------
# Trending top-k per window — streamable counts + tiny post-rank
# --------------------------------------------------------------------------

_TRENDING_K = 3

_TRENDING_ORACLE = f"""
WITH counts AS (
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, dense_rank() OVER (
        PARTITION BY window_start
        ORDER BY n_events DESC, event_type
    ) AS rnk
    FROM counts
)
SELECT window_start,
       event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(rnk AS BIGINT)      AS rnk
FROM ranked WHERE rnk <= {_TRENDING_K}
"""


@query("stream_topk_trending", oracle=_TRENDING_ORACLE)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18/X11: trending top-{_TRENDING_K} event types per 15-minute
    window — the "what's hot right now" query every event dashboard
    runs.

    The split matters for streaming: the windowed COUNT is incremental
    (watermark-bounded state, partial aggregation), while the rank is
    NOT streamable as-is — so the rank runs as a tiny second stage over
    the window×type count table (types × windows rows, dust). In true
    streaming mode the counts stream into a sink and the identical rank
    applies per refresh / in foreachBatch — the medallion split tested
    in test_stream_trending_equals_batch. Deterministic tie-break
    (count DESC, then event_type) keeps top-k stable across engines.
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "15 minutes").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    rnk = F.dense_rank().over(
        W.partitionBy("win").orderBy(F.desc("n_events"), "event_type")
    )
    return (
        counts.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= _TRENDING_K)
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# Sliding-window distinct users — exact audience per overlapping window
# --------------------------------------------------------------------------

_SLIDING_UNIQUE_ORACLE = """
WITH assigned AS (
    SELECT user_id,
           time_bucket(INTERVAL '5 minutes', ts) AS window_start
    FROM events
    UNION ALL
    SELECT user_id,
           time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
    FROM events
)
SELECT window_start,
       window_start + INTERVAL '10 minutes' AS window_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
FROM assigned
GROUP BY 1, 2
"""


@query("stream_sliding_unique", oracle=_SLIDING_UNIQUE_ORACLE)
def stream_sliding_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18/X7: EXACT distinct users per overlapping window (10-minute
    windows sliding every 5) — the audience-reach twin of
    stream_sliding's count/sum rollup. Window fan-out is the bounded
    ×(window/slide) explode Spark's own F.window performs; the distinct
    collapses map-side to (window, user) pairs before the single
    shuffle, so shuffle volume is unique-pairs, not events. For the
    approximate tier at extreme cardinalities, swap countDistinct for
    the mergeable sketches of agg_hll_mergeable — same plan shape.
    """
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("win"))
        .agg(F.countDistinct("user_id").alias("unique_users"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "unique_users",
        )
    )


# --------------------------------------------------------------------------
# OHLC candles as a streaming-compatible windowed aggregate
# --------------------------------------------------------------------------

_OHLC_STREAM_ORACLE = """
WITH pricked AS (
    SELECT event_type,
           time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           epoch_us(ts) AS t_us, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type, window_start
                              ORDER BY t_us, event_id) AS rn_first,
           row_number() OVER (PARTITION BY event_type, window_start
                              ORDER BY t_us DESC, event_id DESC) AS rn_last
    FROM pricked
)
SELECT event_type, window_start,
       window_start + INTERVAL '10 minutes' AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(MAX(CASE WHEN rn_first = 1 THEN cents END) / 100.0 AS DOUBLE)
           AS open,
       CAST(MAX(cents) / 100.0 AS DOUBLE) AS high,
       CAST(MIN(cents) / 100.0 AS DOUBLE) AS low,
       CAST(MAX(CASE WHEN rn_last = 1 THEN cents END) / 100.0 AS DOUBLE)
           AS close
FROM ranked
GROUP BY 1, 2
"""


def ohlc_candles(events: DataFrame) -> DataFrame:
    """10-minute OHLC candles per event type — one windowed aggregation
    whose every function (count / min_by / max_by / min / max) is an
    incrementally-mergeable aggregate, so the SAME expression runs as a
    watermark-bounded streaming query (the candle chart a tick feed
    maintains live) or as a batch hash aggregation. min_by/max_by state
    is one (value, order-key) pair per open window — bounded by the
    watermark like every other window state here.
    """
    okey = F.struct(F.unix_micros("ts").alias("t"), F.col("event_id"))
    value_c = cents("value")
    return (
        events.groupBy(
            "event_type", F.window("ts", "10 minutes").alias("win")
        )
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            (F.min_by(value_c, okey) / 100.0).cast("double").alias("open"),
            (F.max(value_c) / 100.0).cast("double").alias("high"),
            (F.min(value_c) / 100.0).cast("double").alias("low"),
            (F.max_by(value_c, okey) / 100.0).cast("double").alias("close"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_ticks",
            "open",
            "high",
            "low",
            "close",
        )
    )


@query("stream_ohlc_candles", oracle=_OHLC_STREAM_ORACLE)
def stream_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the live candle maintainer (see ohlc_candles; the
    true-stream equality is asserted in tests/test_streaming.py). The
    reference computes daily OHLCV rows once a day from a full refetch —
    this is the same product maintained incrementally per window with
    watermark-bounded state."""
    return ohlc_candles(table(spark, sf_dir, "events"))
