"""Temporal / non-equi joins: as-of and range joins (SURVEY.md X4-X5).

Spark has no ASOF JOIN operator. The scalable formulation used here is the
union-and-carry-forward trick: union the two event streams, window once per
key ordered by time, and carry the last left-side attributes forward with
``last(..., ignorenulls=True)``. Cost: ONE shuffle on the key and a
per-key sort — no row multiplication, no range cross-product. A naive
range-join + row_number would materialize O(clicks × purchases) per key
before pruning; at 100 TB the union-window plan is the difference between
a join that finishes and one that doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

_ASOF_ORACLE = """
SELECT
    p.event_id AS purchase_id,
    p.user_id  AS user_id,
    p.ts       AS purchase_ts,
    p.value    AS purchase_value,
    c.event_id AS click_id,
    c.value    AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("asof_join", oracle=_ASOF_ORACLE)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: for each purchase, the latest click by the same user at or
    before the purchase timestamp (left as-of join).

    Implementation: tag clicks kind=0 / purchases kind=1, union, one
    window per user ordered by (ts, kind, event_id), carry click attrs
    forward with last(ignorenulls), keep purchase rows. kind orders a
    same-timestamp click *before* the purchase, implementing the
    inclusive ``>=`` bound; event_id breaks any remaining tie
    deterministically. The DuckDB oracle uses its native ASOF LEFT JOIN.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("double").alias("click_value"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "user_id",
        "ts",
        "kind",
        "purchase_id",
        "purchase_value",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("click_value", ignorenulls=True).over(w).alias("click_value"),
    )
    return carried.filter(F.col("kind") == 1).select(
        F.col("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_value",
        "click_id",
        "click_value",
    )


_RANGE_ORACLE = """
SELECT
    b.band_id,
    CAST(b.band_id * 50.0 AS DOUBLE)       AS band_lo,
    CAST((b.band_id + 1) * 50.0 AS DOUBLE) AS band_hi,
    CAST(COUNT(e.event_id) AS BIGINT)      AS n_events,
    CAST(COALESCE(SUM(CAST(round(e.value * 100) AS BIGINT)), 0) / 100.0
         AS DOUBLE)                        AS band_value
FROM range(8) b(band_id)
LEFT JOIN events e
    ON e.value >= b.band_id * 50.0 AND e.value < (b.band_id + 1) * 50.0
GROUP BY b.band_id
"""


@query("range_join_bands", oracle=_RANGE_ORACLE)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: non-equi (range) join of the event stream against a band
    dimension.

    The band side is tiny and explicitly broadcast, so Spark plans a
    BroadcastNestedLoopJoin — the correct physical strategy for a
    non-equi join with a bounded build side; the fact side streams through
    without a shuffle. (For big×big range joins, bucketize both sides on
    floor(value/width) first to recover an equi-join — see
    operators.similarity for that pattern applied to LSH buckets.)
    """
    ev = table(spark, sf_dir, "events")
    bands = spark.range(8).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50.0).alias("band_lo"),
        ((F.col("id") + 1) * 50.0).alias("band_hi"),
    )
    joined = F.broadcast(bands).join(  # bounded: literal 8-row band grid (spark.range)
        ev,
        (ev.value >= bands.band_lo) & (ev.value < bands.band_hi),
        "left",
    )
    return joined.groupBy("band_id", "band_lo", "band_hi").agg(
        F.count("event_id").alias("n_events"),
        (
            F.coalesce(
                F.sum(cents("value")), F.lit(0)
            )
            / 100.0
        )
        .cast("double")
        .alias("band_value"),
    )


_ASOF_FWD_ORACLE = """
SELECT
    p.event_id AS purchase_id,
    p.user_id  AS user_id,
    p.ts       AS purchase_ts,
    c.event_id AS next_click_id,
    c.ts       AS next_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts <= c.ts
"""


@query("asof_join_forward", oracle=_ASOF_FWD_ORACLE)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: forward as-of — for each purchase, the EARLIEST click at or
    after it (did the user come back?). Same union-window shape as the
    backward asof_join but mirrored: first(ignorenulls) over a
    current-row→unbounded-following frame, with kind ordering a
    same-timestamp click *after* the purchase so the inclusive ``<=``
    bound matches DuckDB's forward ASOF. Still one shuffle, no row
    multiplication."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = merged.select(
        "user_id",
        "ts",
        "kind",
        "purchase_id",
        F.first("click_id", ignorenulls=True).over(w).alias("next_click_id"),
        F.first(
            F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w).alias("next_click_ts"),
    )
    return carried.filter(F.col("kind") == 0).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "next_click_id",
        "next_click_ts",
    )


# --------------------------------------------------------------------------
# X5c — as-of join with tolerance (stale matches dropped)
# --------------------------------------------------------------------------

_ASOF_TOL_US = 3600 * 1_000_000  # 1 hour

_ASOF_TOL_ORACLE = """
SELECT
    p.event_id AS purchase_id,
    p.user_id  AS user_id,
    p.ts       AS purchase_ts,
    p.value    AS purchase_value,
    CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 1 HOUR
         THEN c.event_id END AS click_id,
    CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 1 HOUR
         THEN c.value END    AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("asof_join_tolerance", oracle=_ASOF_TOL_ORACLE)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 with a staleness bound: the latest same-user click at or before
    each purchase counts only if it happened within the last hour —
    pandas' ``merge_asof(tolerance=...)``, the form attribution windows
    actually need (an hours-old click should not claim the credit).

    Same single-shuffle union+window plan as ``asof_join`` (the carried
    click timestamp rides the same last(ignorenulls) window); the
    tolerance is a row-local post-filter, so the bound adds zero plan
    cost. The oracle is DuckDB's native ASOF LEFT JOIN with the stale
    matches nulled the same way.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "user_id",
        "ts",
        "kind",
        "purchase_id",
        "purchase_value",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("click_value", ignorenulls=True).over(w).alias("click_value"),
        F.last("click_ts", ignorenulls=True).over(w).alias("click_ts"),
    )
    fresh = (
        F.col("click_ts").isNotNull()
        & (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))
            <= F.lit(_ASOF_TOL_US)
        )
    )
    return carried.filter(F.col("kind") == 1).select(
        F.col("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_value",
        F.when(fresh, F.col("click_id")).alias("click_id"),
        F.when(fresh, F.col("click_value")).alias("click_value"),
    )


# --------------------------------------------------------------------------
# X4b — interval self-overlap join (bucket-block → dedup → verify)
# --------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH iv AS (
    SELECT user_id, event_id, ts AS s,
           ts + INTERVAL (CAST(trunc(value) * 60 AS INT)) SECOND AS e
    FROM events
    WHERE user_id % 5 = 0 AND value BETWEEN 0 AND 1440
)
SELECT
    a.user_id,
    a.event_id AS event_a,
    b.event_id AS event_b,
    CAST(date_diff('microseconds',
                   greatest(a.s, b.s), least(a.e, b.e)) AS BIGINT)
        AS overlap_us
FROM iv a JOIN iv b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.s < b.e AND b.s < a.e
"""


@query("interval_overlap_join", oracle=_OVERLAP_ORACLE)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: which of a user's activity intervals [ts, ts+value s) overlap
    each other, with the overlap duration — the self-interval-join
    behind double-billing detection, conflict scheduling, and session
    stitching.

    Scale shape — bucket-block → dedup → verify (the interval analog of
    the SymSpell fuzzy join): each interval explodes to the hour buckets
    it spans (bounded: interval length / 1 h + 1 keys), candidates meet
    through an equi-join on (user, bucket) — never the per-user O(n²)
    product a raw theta join would plan — then exact overlap predicates
    verify the deduped pairs. The oracle is the brute-force theta join,
    proving the decomposition exact (162 pairs at sf0.01, 13 at
    sf0.001 — never vacuous). `value` is interpreted as minutes and
    clamped to [0, 1440] (24 h), so per-row bucket fan-out is provably
    ≤ 25 — unbounded `sequence()` expansion is impossible by
    construction; the clamp is mirrored in the oracle.
    """
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 5 == 0) & F.col("value").between(0.0, 1440.0)
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND", F.col("value").cast("long") * 60, F.col("ts")
        ).alias("e"),
    )
    return interval_overlap_pairs(iv)


def interval_overlap_pairs(
    iv: DataFrame, candidate_observation=None
) -> DataFrame:
    """interval_overlap_join's bucket-block→verify core over any
    ``(user_id, event_id, s, e)`` interval frame.

    ``candidate_observation``: optional ``pyspark.sql.Observation``
    attaching a ``candidates`` count metric between the (user, bucket)
    equi-join and the exact-overlap verify, so volume tests assert the
    intermediate bucket-candidate mass (Σ over (user, bucket) groups of
    C(c, 2)) on the executed plan."""
    hour = 3600 * 1_000_000
    bucketed = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                (F.unix_micros("s") / hour).cast("long"),
                (F.unix_micros("e") / hour).cast("long"),
            )
        ).alias("bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    raw = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    )
    if candidate_observation is not None:
        raw = raw.observe(
            candidate_observation, F.count(F.lit(1)).alias("candidates")
        )
    pairs = (
        raw.filter(
            (F.col("a.s") < F.col("b.e")) & (F.col("b.s") < F.col("a.e"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (
                F.unix_micros(F.least(F.col("a.e"), F.col("b.e")))
                - F.unix_micros(F.greatest(F.col("a.s"), F.col("b.s")))
            ).alias("overlap_us"),
        )
        .dropDuplicates(["user_id", "event_a", "event_b"])
    )
    return pairs


# --------------------------------------------------------------------------
# X5d — nearest as-of join (either direction, deterministic tie-break)
# --------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click'),
cand AS (
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.value AS click_value,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us,
           abs(epoch_us(p.ts) - epoch_us(c.ts)) AS abs_us,
           CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS side,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                        CASE WHEN c.ts <= p.ts THEN -c.event_id
                             ELSE c.event_id END
           ) AS rn
    FROM p JOIN c ON p.user_id = c.user_id
)
SELECT pp.event_id AS purchase_id, pp.user_id, pp.ts AS purchase_ts,
       k.click_id, k.click_value, CAST(k.delta_us AS BIGINT) AS delta_us
FROM p pp
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) k
       ON k.purchase_id = pp.event_id
"""


@query("asof_join_nearest", oracle=_ASOF_NEAREST_ORACLE)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: NEAREST-direction as-of — for each purchase, the click by the
    same user closest in time in EITHER direction (backward preferred on
    exact |delta| ties; within a side, the asof_join tie discipline:
    last click wins looking back, first click wins looking forward).
    Completes the as-of family: backward / forward / tolerance / nearest.

    Plan: the SAME single union-window pass as the other as-of variants —
    one shuffle on user_id, one per-key sort — with BOTH directions read
    off the one sorted frame (last(ignorenulls) up to the current row
    for backward, first(ignorenulls) from the current row on for
    forward), then a row-local nearest pick. The oracle is the O(n²)
    brute-force argmin per purchase, so the parity gate proves the
    two-frame decomposition implements exactly the nearest semantics.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("double").alias("click_value"),
        F.col("event_id").alias("purchase_id"),
    )
    merged = clicks.unionByName(purchases)
    # kind=0 sorts clicks before a same-ts purchase: the backward frame
    # (<= current row) then includes same-ts clicks — the inclusive
    # bound — and the forward frame starts at the purchase itself, but
    # purchases carry no click columns so ignorenulls skips them. For
    # the forward frame to also see same-ts clicks, order ties by kind
    # then event_id; a same-ts click lands on the backward side with
    # delta 0, which nearest-selection prefers anyway.
    order = [F.col("ts"), F.col("kind"), F.coalesce("click_id", "purchase_id")]
    back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = F.unix_micros(F.col("ts"))
    carried = merged.select(
        "user_id",
        "ts",
        "kind",
        "purchase_id",
        F.last("click_id", ignorenulls=True).over(back).alias("b_id"),
        F.last("click_value", ignorenulls=True).over(back).alias("b_val"),
        F.last(F.when(F.col("kind") == 0, us), ignorenulls=True)
        .over(back)
        .alias("b_us"),
        F.first("click_id", ignorenulls=True).over(fwd).alias("f_id"),
        F.first("click_value", ignorenulls=True).over(fwd).alias("f_val"),
        F.first(F.when(F.col("kind") == 0, us), ignorenulls=True)
        .over(fwd)
        .alias("f_us"),
    )
    p = carried.filter(F.col("kind") == 1)
    d_b = us - F.col("b_us")          # >= 0 when backward exists
    d_f = F.col("f_us") - us          # >= 0 when forward exists
    take_back = F.col("b_us").isNotNull() & (
        F.col("f_us").isNull() | (d_b <= d_f)
    )
    return p.select(
        F.col("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(take_back, F.col("b_id")).otherwise(F.col("f_id"))
        .alias("click_id"),
        F.when(take_back, F.col("b_val")).otherwise(F.col("f_val"))
        .alias("click_value"),
        F.when(take_back, d_b.cast("long"))
        .otherwise((-d_f).cast("long"))
        .alias("delta_us"),
    )


# --------------------------------------------------------------------------
# Point-in-time join against an SCD2-style state history
# --------------------------------------------------------------------------

_PIT_ORACLE = """
WITH states AS (
    SELECT user_id, ts, event_id, event_type AS state,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
    FROM events WHERE event_type IN ('signup', 'purchase', 'error')
),
views AS (
    SELECT event_id AS view_id, user_id, ts AS view_ts
    FROM events WHERE event_type = 'view'
)
SELECT v.view_id, v.user_id, v.view_ts,
       s.state, s.ts AS state_since
FROM views v
LEFT JOIN states s
       ON s.user_id = v.user_id
      AND v.view_ts >= s.ts
      AND (s.next_ts IS NULL OR v.view_ts < s.next_ts)
"""


@query("join_point_in_time", oracle=_PIT_ORACLE)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — every view event enriched with the
    user's state AS OF that moment (the consumption side of an SCD2
    dimension: scd2_customer_status builds the history, this reads it
    correctly, with no leakage from the future).

    The oracle formulates it the warehouse way: build validity intervals
    with lead() and range-join ``valid_from <= t < valid_to`` — correct
    but a non-equi join. The engine plan avoids the range join entirely
    with the as-of union-window discipline: state changes (kind 0) and
    facts (kind 1) union, ONE shuffle on user_id, and
    last(ignorenulls) carries (state, since, version-defining event)
    forward — at 100 TB this is the difference between a key-bounded
    window sweep and an interval join the optimizer can't bound. The
    parity gate proves carry-forward ≡ interval semantics, including
    the zero-length-interval edge (two state changes at one timestamp:
    the later event_id wins, exactly as the interval form excludes the
    superseded row).
    """
    ev = table(spark, sf_dir, "events")
    states = ev.filter(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.col("event_type").alias("state"),
        F.lit(None).cast("long").alias("view_id"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.col("event_id").alias("view_id"),
    )
    merged = states.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "user_id",
        "ts",
        "kind",
        "view_id",
        F.last("state", ignorenulls=True).over(w).alias("state"),
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("state_since"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "view_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        "state",
        "state_since",
    )


# --------------------------------------------------------------------------
# Strict-order windowed funnel — two chained forward as-ofs
# --------------------------------------------------------------------------

_FUNNEL_TOL_US = 24 * 3600 * 1_000_000  # each hop must land within 24 h

_STRICT_FUNNEL_ORACLE = f"""
WITH s AS (
    SELECT event_id AS signup_id, user_id, ts AS s_ts
    FROM events WHERE event_type = 'signup'
),
c AS (
    SELECT event_id AS click_id, user_id, ts AS c_ts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT event_id AS purchase_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
qc AS (
    SELECT * FROM (
        SELECT s.signup_id, s.user_id, s.s_ts, c.click_id, c.c_ts,
               row_number() OVER (
                   PARTITION BY s.signup_id
                   ORDER BY c.c_ts, c.click_id) AS rn
        FROM s JOIN c ON c.user_id = s.user_id
                     AND c.c_ts >= s.s_ts
                     AND epoch_us(c.c_ts) - epoch_us(s.s_ts)
                         <= {_FUNNEL_TOL_US}
    ) WHERE rn = 1
),
qp AS (
    SELECT * FROM (
        SELECT qc.signup_id, p.purchase_id, p.p_ts,
               row_number() OVER (
                   PARTITION BY qc.signup_id
                   ORDER BY p.p_ts, p.purchase_id) AS rn
        FROM qc JOIN p ON p.user_id = qc.user_id
                      AND p.p_ts >= qc.c_ts
                      AND epoch_us(p.p_ts) - epoch_us(qc.c_ts)
                          <= {_FUNNEL_TOL_US}
    ) WHERE rn = 1
)
SELECT s.signup_id, s.user_id,
       qc.click_id, qp.purchase_id,
       (qp.purchase_id IS NOT NULL) AS completed,
       CAST(CASE WHEN qp.purchase_id IS NOT NULL
                 THEN epoch_us(qp.p_ts) - epoch_us(s.s_ts) END AS BIGINT)
           AS convert_us
FROM s
LEFT JOIN qc ON qc.signup_id = s.signup_id
LEFT JOIN qp ON qp.signup_id = s.signup_id
"""


@query("funnel_strict_windowed", oracle=_STRICT_FUNNEL_ORACLE)
def funnel_strict_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order windowed funnel: signup → FIRST click within 24 h →
    FIRST purchase within 24 h of that click, per signup event. Unlike
    funnel_conversion (existence counts), each hop here must follow the
    SPECIFIC event matched at the previous hop — the attribution-grade
    funnel semantics.

    Each hop is a forward as-of with tolerance, so the whole funnel is
    TWO union-window passes on the user_id clustering (the asof_join
    discipline): pass 1 unions signups with clicks and takes
    first(click, ignorenulls) over the forward frame; pass 2 unions the
    matched hops with purchases the same way. No hop ever plans a range
    join — the oracle IS the range-join + row_number formulation, so
    parity proves the chained-window decomposition implements exactly
    the first-within-window semantics (including same-timestamp
    ordering: a click at the signup instant qualifies, ordered by kind
    then event_id).
    """
    ev = table(spark, sf_dir, "events")

    def forward_first(
        queries: DataFrame,
        carriers: DataFrame,
        q_ts: str,
        tol_us: int,
        carry_cols: list[str],
    ) -> DataFrame:
        """For each query row, the first carrier at-or-after its ts
        (per user), tolerance-bounded — one union-window pass."""
        q = queries.withColumn("kind", F.lit(0))
        for col in carry_cols:
            q = q.withColumn(col, F.lit(None).cast("long"))
        q = q.withColumn("c_ts_u", F.lit(None).cast("long"))
        c = carriers.withColumn("kind", F.lit(1)).withColumn(
            "c_ts_u", F.unix_micros(F.col(q_ts))
        )
        for col in set(q.columns) - set(c.columns):
            c = c.withColumn(col, F.lit(None))
        merged = c.select(*q.columns).unionByName(q)
        fwd = (
            Window.partitionBy("user_id")
            .orderBy(q_ts, "kind", F.coalesce(*carry_cols, "qid"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        out = merged.select(
            *[
                c_
                for c_ in merged.columns
                if c_ not in carry_cols + ["c_ts_u"]
            ],
            *[
                F.first(col, ignorenulls=True).over(fwd).alias(col)
                for col in carry_cols
            ],
            F.first(
                F.when(F.col("kind") == 1, F.col("c_ts_u")), ignorenulls=True
            )
            .over(fwd)
            .alias("m_ts_u"),
        )
        within = (
            F.col("m_ts_u") - F.unix_micros(F.col(q_ts)) <= tol_us
        ) & F.col("m_ts_u").isNotNull()
        return out.filter(F.col("kind") == 0).select(
            *[
                c_
                for c_ in out.columns
                if c_ not in carry_cols + ["m_ts_u", "kind"]
            ],
            *[
                F.when(within, F.col(col)).alias(col) for col in carry_cols
            ],
            F.when(within, F.col("m_ts_u")).alias("m_ts_u"),
        )

    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("qid"),
        "user_id",
        F.col("ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("qid"),
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
    )
    hop1 = forward_first(
        s, clicks, "ts", _FUNNEL_TOL_US, ["click_id"]
    ).select(
        F.col("qid").alias("signup_id"),
        "user_id",
        F.col("ts").alias("s_ts"),
        "click_id",
        F.col("m_ts_u").alias("click_ts_u"),
    )
    # hop 2: queries are the MATCHED (signup, click) rows anchored at the
    # click timestamp; unmatched signups pass through with null hops
    matched = hop1.filter(F.col("click_id").isNotNull()).select(
        F.col("signup_id").alias("qid"),
        "user_id",
        F.timestamp_micros(F.col("click_ts_u")).alias("ts"),
        "s_ts",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("qid"),
        "user_id",
        "ts",
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    hop2 = forward_first(
        matched, purchases, "ts", _FUNNEL_TOL_US, ["purchase_id"]
    ).select(
        F.col("qid").alias("signup_id"),
        "purchase_id",
        F.col("m_ts_u").alias("purchase_ts_u"),
    )
    out = hop1.join(hop2, "signup_id", "left")
    return out.select(
        "signup_id",
        "user_id",
        "click_id",
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("completed"),
        F.when(
            F.col("purchase_id").isNotNull(),
            F.col("purchase_ts_u") - F.unix_micros("s_ts"),
        )
        .cast("long")
        .alias("convert_us"),
    )
