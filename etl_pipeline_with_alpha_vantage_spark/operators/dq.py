"""Declarative data-quality expectations suite over the warehouse.

The reference's validation gate (`/root/reference/etl.py:80-99` —
per-payload column/NaN checks before load) generalized to the
Great-Expectations-style contract a 100 TB warehouse actually runs:
a TABLE of named expectations, each evaluated to checked/violation
counts and a pass boolean, unioned into one audit report. Schema-level
gates (PERMISSIVE/FAILFAST) live in pipeline/alpha_vantage.py; this is
the VALUE-level tier: ranges, nullability, cross-field invariants, and
cross-TABLE referential integrity.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents, md5_uniform
from ..registry import query

_DQ_ORACLE = """
SELECT 'orders' AS table_name, 'o_custkey_not_null' AS expectation,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_violations,
       COUNT(*) = COUNT(o_custkey) AS passed
FROM orders
UNION ALL
SELECT 'orders', 'o_totalprice_positive', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'orders', 'o_orderdate_in_range', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                       OR o_orderdate >= TIMESTAMP '2005-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                  OR o_orderdate >= TIMESTAMP '2005-01-01'
                THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem', 'l_quantity_in_1_50', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem', 'l_discount_in_0_10pct', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem', 'l_orderkey_fk_orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem', 'l_shipdate_after_orderdate',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) = 0
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'documents', 'n_chars_matches_text', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
            AS BIGINT),
       SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
FROM documents
UNION ALL
SELECT 'events', 'ts_not_null', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(ts) AS BIGINT), COUNT(*) = COUNT(ts)
FROM events
ORDER BY table_name, expectation
"""

_REPORT_SCHEMA = (
    "table_name string, expectation string, n_checked bigint, "
    "n_violations bigint, passed boolean"
)


def _report_rows(df: DataFrame, tbl: str, checks: list[tuple[str, F.Column]]) -> DataFrame:
    """One scan of ``df`` evaluating every (name, violation-predicate)
    pair map-side, then an in-row unpivot of the single aggregate row
    into one report row per expectation."""
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(pred.cast("long")).alias(f"v{i}")
        for i, (_, pred) in enumerate(checks)
    ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(tbl).alias("table_name"),
                F.lit(name).alias("expectation"),
                F.col("__n").alias("n_checked"),
                F.col(f"v{i}").alias("n_violations"),
                (F.col(f"v{i}") == 0).alias("passed"),
            )
            for i, (name, _) in enumerate(checks)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


@query("dq_expectations", oracle=_DQ_ORACLE)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the warehouse's declarative expectation suite: nullability,
    value ranges, cross-field invariants, and cross-table referential
    integrity, one audit row per expectation with checked/violation
    counts and a pass flag. On this corpus the
    l_shipdate_after_orderdate contract genuinely FAILS (items shipping
    before their order date), so the suite demonstrably reports both
    outcomes — a suite that can only say "pass" audits nothing.

    Scale shape: each single-table block is ONE partial-aggregated scan
    evaluating all of its predicates map-side (conditional sums), then
    an in-row unpivot to report rows — expectations per table add
    columns, not scans. The referential check is a null-counting
    broadcast-or-shuffle equi-join (Catalyst picks by stats; the FK
    probe is the classic build side), and the cross-table date invariant
    rides the same join key. Report size is O(expectations), so the
    union is dust.
    """
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    docs = table(spark, sf_dir, "documents")
    ev = table(spark, sf_dir, "events")

    parts = [
        _report_rows(
            orders,
            "orders",
            [
                ("o_custkey_not_null", F.col("o_custkey").isNull()),
                ("o_totalprice_positive", F.col("o_totalprice") <= 0),
                (
                    "o_orderdate_in_range",
                    (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                    | (
                        F.col("o_orderdate")
                        >= F.lit("2005-01-01").cast("timestamp")
                    ),
                ),
            ],
        ),
        _report_rows(
            li,
            "lineitem",
            [
                (
                    "l_quantity_in_1_50",
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                ),
                (
                    "l_discount_in_0_10pct",
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
                ),
            ],
        ),
        # Referential integrity: count FK probes that miss the orders
        # build side. The anti-join's count is the violation count; the
        # checked count is the probe cardinality.
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_checked")))
        .select(
            F.lit("lineitem").alias("table_name"),
            F.lit("l_orderkey_fk_orders").alias("expectation"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        ),
        # Cross-table invariant on the same join key: shipment must not
        # predate its order.
        _report_rows(
            li.join(orders, li.l_orderkey == orders.o_orderkey).select(
                "l_shipdate", "o_orderdate"
            ),
            "lineitem",
            [
                (
                    "l_shipdate_after_orderdate",
                    F.col("l_shipdate") < F.col("o_orderdate"),
                )
            ],
        ),
        _report_rows(
            docs,
            "documents",
            [
                (
                    "n_chars_matches_text",
                    F.col("n_chars") != F.length("text"),
                )
            ],
        ),
        _report_rows(
            ev, "events", [("ts_not_null", F.col("ts").isNull())]
        ),
    ]
    report = reduce(DataFrame.unionByName, parts)
    return report.orderBy("table_name", "expectation")


# The FK block reports n_checked from a separate COUNT in both engines,
# keeping the anti-join strictly violation-counting; DuckDB's scalar
# subquery mirrors the crossJoin of the two 1-row aggregates.


# --------------------------------------------------------------------------
# Right-to-erasure (DSR) purge accounting
# --------------------------------------------------------------------------

_ERASURE_ORACLE = """
WITH dsr AS (
    SELECT DISTINCT user_id FROM events WHERE user_id % 1000 < 5
),
classified AS (
    SELECT e.event_type,
           CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END AS purge,
           e.user_id
    FROM events e LEFT JOIN dsr d ON d.user_id = e.user_id
)
SELECT event_type,
       CAST(SUM(purge) AS BIGINT)                    AS n_purged,
       CAST(SUM(1 - purge) AS BIGINT)                AS n_retained,
       CAST(COUNT(DISTINCT CASE WHEN purge = 1 THEN user_id END)
            AS BIGINT)                               AS n_erased_users,
       SUM(CASE WHEN purge = 0 AND user_id % 1000 < 5
                THEN 1 ELSE 0 END) = 0               AS clean_after_purge
FROM classified
GROUP BY event_type
ORDER BY event_type
"""


@query("gdpr_user_erasure", oracle=_ERASURE_ORACLE)
def gdpr_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure purge over the events table: rows belonging to a
    data-subject-request list (demo: user_id % 1000 < 5) are split out,
    and the per-type audit reports purged/retained row counts, distinct
    users erased, and an in-plan proof that NO retained row still
    matches the request list — the certificate a deletion job must
    emit, not just the delete itself.

    Scale shape: the DSR list is dimension-sized, so membership is one
    broadcast-able semi-join side (here folded into a left join +
    flag so purge and retention accounting share a single scan and one
    partial-aggregated shuffle). On a partitioned warehouse the same
    flag drives a dynamic-partition-overwrite rewrite of only the
    affected partitions (sinks/maintenance.py machinery); the
    certificate column is the piece deletion pipelines usually skip.
    """
    ev = table(spark, sf_dir, "events")
    dsr = ev.filter(F.col("user_id") % 1000 < 5).select("user_id").distinct()
    # dsr is user-scaled (grows with the fact table) — unhinted: AQE
    # broadcasts the typical dust-sized erasure list at runtime and
    # falls back to a shuffle join for a bulk-erasure batch instead of
    # forcing an unbounded build side onto the driver (round 11).
    flagged = ev.join(
        dsr.withColumn("purge", F.lit(1)), "user_id", "left"
    ).select(
        "event_type",
        "user_id",
        F.coalesce(F.col("purge"), F.lit(0)).alias("purge"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.sum("purge").cast("long").alias("n_purged"),
            F.sum(1 - F.col("purge")).cast("long").alias("n_retained"),
            F.count_distinct(
                F.when(F.col("purge") == 1, F.col("user_id"))
            ).alias("n_erased_users"),
            (
                F.sum(
                    (
                        (F.col("purge") == 0)
                        & (F.col("user_id") % 1000 < 5)
                    ).cast("long")
                )
                == 0
            ).alias("clean_after_purge"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Functional-dependency discovery (profiling tier above dq_expectations)
# --------------------------------------------------------------------------

_FD_ORACLE = """
WITH checks AS (
    SELECT 'documents' AS table_name, 'doc_id' AS determinant,
           'source' AS dependent, doc_id AS k,
           COUNT(DISTINCT source) AS n_vals
    FROM documents GROUP BY doc_id
    UNION ALL
    SELECT 'documents', 'source', 'lang', hash(source),
           COUNT(DISTINCT lang)
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'orders', 'o_orderkey', 'o_custkey', o_orderkey,
           COUNT(DISTINCT o_custkey)
    FROM orders GROUP BY o_orderkey
    UNION ALL
    SELECT 'orders', 'o_custkey', 'o_orderpriority', o_custkey,
           COUNT(DISTINCT o_orderpriority)
    FROM orders GROUP BY o_custkey
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'l_returnflag', l_orderkey,
           COUNT(DISTINCT l_returnflag)
    FROM lineitem GROUP BY l_orderkey
)
SELECT table_name, determinant, dependent,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_keys,
       SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM checks
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# Candidate FDs: (table, determinant, dependent). cand_id = list index;
# labels rejoin on the 5-row verdict table, never in the shuffles.
_FD_CANDIDATES: list[tuple[str, str, str]] = [
    ("documents", "doc_id", "source"),
    ("documents", "source", "lang"),
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
]


def _fd_per_key(df: DataFrame, tbl: str) -> DataFrame:
    """All of one table's candidate FDs in ONE scan + ONE shuffle:
    GROUPING SETS over the distinct determinants (Expand + a single
    partial-aggregated exchange on native column types), with the
    violation test per key being min(dep) != max(dep) — equivalent to
    COUNT(DISTINCT dep) > 1 (both ignore nulls; an all-null dependent
    is non-violating under either) but free of the distinct-rewrite's
    extra exchange. Emits (cand_id, viol) per determinant key."""
    cands = [
        (i, det, dep)
        for i, (t, det, dep) in enumerate(_FD_CANDIDATES)
        if t == tbl
    ]
    dets = [det for _, det, _ in cands]
    if len(dets) == 1:
        grouped = df.groupBy(dets[0])
        gid_of = {cands[0][0]: 0}
    else:
        grouped = df.groupingSets([[d] for d in dets], *dets)
        # grouping_id sets a bit when a grouping column is aggregated
        # away, leftmost column = highest bit; the set that keeps the
        # determinant at position `pos` therefore has every bit set
        # except bit (n-1-pos).
        all_bits = (1 << len(dets)) - 1
        gid_of = {
            cand_id: all_bits ^ (1 << (len(dets) - 1 - pos))
            for pos, (cand_id, _, _) in enumerate(cands)
        }
    aggs = [
        (F.min(dep) != F.max(dep)).alias(f"viol_{cand_id}")
        for cand_id, _, dep in cands
    ]
    if len(dets) == 1:
        agged = grouped.agg(F.lit(0).alias("gid"), *aggs)
    else:
        agged = grouped.agg(F.grouping_id().alias("gid"), *aggs)
    cand_col = F.lit(None).cast("int")
    viol_col = F.lit(None).cast("boolean")
    for cand_id, _, _ in cands:
        cand_col = F.when(
            F.col("gid") == gid_of[cand_id], F.lit(cand_id)
        ).otherwise(cand_col)
        viol_col = F.when(
            F.col("gid") == gid_of[cand_id], F.col(f"viol_{cand_id}")
        ).otherwise(viol_col)
    return agged.select(
        cand_col.alias("cand_id"), viol_col.alias("viol")
    )


@query("dq_fd_discovery", oracle=_FD_ORACLE)
def dq_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs —
    the profiling tier above dq_expectations' fixed contracts: for each
    candidate det→dep, how many determinant keys map to more than one
    dependent value. Key-level FDs (doc_id→source, o_orderkey→custkey)
    hold by construction; behavioral candidates (o_custkey→priority,
    l_orderkey→returnflag) genuinely fail, so the report exercises both
    verdicts. A schema tool runs exactly this before proposing
    normalization or constraints.

    Scale shape: ONE scan + ONE native-typed, partial-aggregated
    shuffle per table regardless of how many of its column pairs are
    candidates (GROUPING SETS over the distinct determinants; the
    round-5 shape paid a scan and two exchanges PER candidate — 10
    exchanges / 5 scans where 4 / 3 do), then one dust-sized exchange
    for the per-candidate verdicts. The per-key violation test is
    min(dep) != max(dep), so no COUNT(DISTINCT) rewrite doubles the
    exchanges; the per-key table never reaches the driver.
    """
    per_key = reduce(
        DataFrame.unionByName,
        [
            _fd_per_key(table(spark, sf_dir, tbl), tbl)
            for tbl in ("documents", "orders", "lineitem")
        ],
    )
    verdicts = per_key.groupBy("cand_id").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.coalesce(F.col("viol"), F.lit(False)).cast("long")).alias(
            "n_violating_keys"
        ),
        (
            F.sum(F.coalesce(F.col("viol"), F.lit(False)).cast("long")) == 0
        ).alias("holds"),
    )
    labels = [
        (F.col("cand_id") == i, tbl, det, dep)
        for i, (tbl, det, dep) in enumerate(_FD_CANDIDATES)
    ]

    def _label(pos: int, name: str) -> F.Column:
        col = F.lit(None).cast("string")
        for cond, *vals in labels:
            col = F.when(cond, F.lit(vals[pos])).otherwise(col)
        return col.alias(name)

    return verdicts.select(
        _label(0, "table_name"),
        _label(1, "determinant"),
        _label(2, "dependent"),
        "n_keys",
        "n_violating_keys",
        "holds",
    ).orderBy("table_name", "determinant", "dependent")


# --------------------------------------------------------------------------
# Ingest-volume anomaly monitor — daily counts vs trailing median
# --------------------------------------------------------------------------

_VOL_WINDOW = 7  # trailing days in the baseline median
_VOL_TOLERANCE = 0.5  # flag days outside +/-50% of the baseline

_VOLUME_ORACLE = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
),
based AS (
    SELECT day, n_rows,
           median(n_rows) OVER (ORDER BY day
                                ROWS BETWEEN {_VOL_WINDOW} PRECEDING
                                         AND 1 PRECEDING) AS baseline,
           COUNT(*) OVER (ORDER BY day
                          ROWS BETWEEN {_VOL_WINDOW} PRECEDING
                                   AND 1 PRECEDING) AS n_base
    FROM daily
)
SELECT day, n_rows,
       CAST(baseline AS DOUBLE) AS baseline,
       CAST(round(ABS(n_rows / CAST(baseline AS DOUBLE) - 1.0) * 1000000)
            AS BIGINT) AS deviation_micro,
       ABS(n_rows / CAST(baseline AS DOUBLE) - 1.0) > {_VOL_TOLERANCE}
           AS anomalous
FROM based
WHERE n_base = {_VOL_WINDOW}
ORDER BY day
"""


@query("dq_volume_anomaly", oracle=_VOLUME_ORACLE)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume monitoring — the first alarm every pipeline owner
    wires: each day's row count against the MEDIAN of the trailing
    {w} days (median, not mean: one bad day must not poison its own
    baseline), flagging days outside ±{t:.0%}. Warm-up days without a
    full baseline window are excluded.

    Scale shape: the fact collapses to one row per day FIRST, so the
    trailing frame (collect_list→sort→middle-pick, the
    window_rolling_median device — Spark lacks ordered-set aggregates
    over frames) runs over a table with as many rows as days. Integer
    day counts make the median exactly representable; the deviation
    rounds to micro-units for the hash.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    wprev = (
        Window.orderBy("day").rowsBetween(-_VOL_WINDOW, -1)
    )
    arr = F.array_sort(F.collect_list("n_rows").over(wprev))
    n = F.size(arr)
    baseline = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double")
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    based = daily.select(
        "day",
        "n_rows",
        baseline.alias("baseline"),
        n.alias("n_base"),
    ).filter(F.col("n_base") == _VOL_WINDOW)
    dev = F.abs(F.col("n_rows") / F.col("baseline") - 1.0)
    return based.select(
        "day",
        "n_rows",
        F.col("baseline").cast("double").alias("baseline"),
        cents(dev, 6).alias("deviation_micro"),
        (dev > _VOL_TOLERANCE).alias("anomalous"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Hash surrogate keys — scale-safe key generation with a collision audit
# --------------------------------------------------------------------------

_SK_ORACLE = """
WITH dim AS (
    SELECT DISTINCT c_custkey, c_nationkey FROM customer
),
keyed AS (
    SELECT c_custkey, c_nationkey,
           substr(md5('cust:' || CAST(c_custkey AS VARCHAR)), 1, 16)
               AS surrogate_key
    FROM dim
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_natural_keys,
       CAST(COUNT(DISTINCT surrogate_key) AS BIGINT) AS n_surrogate_keys,
       COUNT(DISTINCT surrogate_key) = COUNT(DISTINCT c_custkey)
           AS collision_free,
       CAST(MIN(surrogate_key) AS VARCHAR) AS min_key
FROM keyed
"""


@query("dim_surrogate_keys", oracle=_SK_ORACLE)
def dim_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key generation the way a DISTRIBUTED warehouse must do
    it: hash of the natural key (64-bit md5 prefix), not a sequence —
    sequences serialize through a single counter and
    monotonically_increasing_id() is partitioning-dependent, so neither
    is reproducible across reloads; the hash key is pure per-row work,
    stable under any partitioning, and identical on every rebuild. The
    audit proves the property sequences get for free: distinct
    surrogate keys == distinct natural keys (no collisions), asserted
    in-plan.

    Scale shape: one distinct on the dimension grain, narrow key
    derivation, one aggregate — no global coordination anywhere, which
    is the entire argument for hash keys at 100 TB.
    """
    cust = table(spark, sf_dir, "customer")
    dim = cust.select("c_custkey", "c_nationkey").distinct()
    keyed = dim.withColumn(
        "surrogate_key",
        F.substring(
            F.md5(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))),
            1,
            16,
        ),
    )
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("c_custkey").alias("n_natural_keys"),
        F.count_distinct("surrogate_key").alias("n_surrogate_keys"),
        (
            F.count_distinct("surrogate_key")
            == F.count_distinct("c_custkey")
        ).alias("collision_free"),
        F.min("surrogate_key").alias("min_key"),
    )


# --------------------------------------------------------------------------
# Benford's-law first-digit audit — fraud/synthetic-data screen
# --------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH cents AS (
    SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
    FROM lineitem
    WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0
),
obs AS (
    SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS observed
    FROM cents GROUP BY 1
),
tot AS (
    SELECT digit, observed, SUM(observed) OVER () AS n FROM obs
)
SELECT digit,
       observed,
       CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
           AS expected_ppm,
       CAST(round(observed * 1000000.0 / n) AS BIGINT) AS observed_ppm,
       CAST(round(
           (observed - n * (CAST(round(log10(1.0 + 1.0 / digit) * 1000000)
                                 AS BIGINT) / 1000000.0))
           * (observed - n * (CAST(round(log10(1.0 + 1.0 / digit) * 1000000)
                                   AS BIGINT) / 1000000.0))
           / (n * (CAST(round(log10(1.0 + 1.0 / digit) * 1000000)
                        AS BIGINT) / 1000000.0))
           * 1000000) AS BIGINT) AS chi2_micro
FROM tot
ORDER BY digit
"""


@query("dq_benford_first_digit", oracle=_BENFORD_ORACLE)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over extended price —
    the classic fraud / synthetic-data screen a warehouse DQ suite runs
    on monetary columns. Emits, per digit 1–9: the observed count, the
    Benford expectation log10(1+1/d) in ppm, the observed frequency in
    ppm, and the digit's chi-square contribution in micro-units.
    (TPC-H prices are list-price lookups, NOT Benford-distributed — the
    audit's value is the exact, reproducible deviation report, which on
    this data correctly screams "synthetic".)

    Cross-engine exactness: the first digit is taken from the decimal
    string of the exact integer cents (no float log in the digit path);
    the Benford probability is rounded to integer ppm FIRST, so the
    chi-square arithmetic downstream of ``log10`` consumes identical
    exact integers in both engines, and each contribution is a fixed
    IEEE expression ((o−e)·(o−e)/e — a literal multiply, not pow())
    rounded to micro-units.

    Scale shape: one map-side-combined groupBy producing ≤9 rows; the
    total and the statistic run on that 9-row table (window over 9
    rows). Pure per-row digit derivation before the shuffle — the scan
    dominates, as it must at 100 TB.
    """
    li = table(spark, sf_dir, "lineitem")
    c = cents("l_extendedprice")
    obs = (
        li.select(c.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    n = F.sum("observed").over(Window.partitionBy())
    expected_ppm = cents(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    tot = obs.select(
        "digit", "observed", n.alias("n"), expected_ppm.alias("expected_ppm")
    )
    p = F.col("expected_ppm") / 1_000_000.0
    exp_cnt = F.col("n") * p
    dev = F.col("observed") - exp_cnt
    return tot.select(
        "digit",
        "observed",
        "expected_ppm",
        F.round(F.col("observed") * 1_000_000.0 / F.col("n"))
        .cast("long")
        .alias("observed_ppm"),
        cents(dev * dev / exp_cnt, 6).alias(
            "chi2_micro"
        ),
    ).orderBy("digit")


# --------------------------------------------------------------------------
# Privacy audit: k-anonymity + l-diversity over quasi-identifiers
# --------------------------------------------------------------------------

_KANON_K = 5
_KANON_L = 2

_KANON_ORACLE = f"""
SELECT c_nationkey AS nation,
       CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS balance_band,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
       COUNT(*) >= {_KANON_K} AS k_anonymous,
       COUNT(DISTINCT c_mktsegment) >= {_KANON_L} AS l_diverse
FROM customer
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("privacy_k_anonymity", oracle=_KANON_ORACLE)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-readiness privacy audit, the gate a 100 TB warehouse runs
    before exporting a "de-identified" extract: group records by their
    quasi-identifier tuple (nation, coarse balance band — the columns an
    attacker can link externally) and flag every group that is not
    {k}-anonymous (fewer than {k} records share the QI tuple → linkage
    re-identifies) or not {l}-diverse in the sensitive attribute
    (market segment constant within the group → attribute disclosure
    even at k). Sweeney 2002 / Machanavajjhala 2007, as one groupBy.

    Scale shape: a single partial-aggregated shuffle on the QI tuple
    (COUNT collapses map-side; the distinct-sensitive count is the only
    expand) — the audit costs one pass no matter how wide the table.
    GDPR erasure (gdpr_user_erasure) handles the deletion side; this
    handles the disclosure side.
    """
    return (
        table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("long")
            .alias("balance_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count_distinct("c_mktsegment").alias("n_sensitive"),
            (F.count(F.lit(1)) >= _KANON_K).alias("k_anonymous"),
            (F.count_distinct("c_mktsegment") >= _KANON_L).alias(
                "l_diverse"
            ),
        )
        .orderBy("nation", "balance_band")
    )


privacy_k_anonymity.__doc__ = privacy_k_anonymity.__doc__.format(
    k=_KANON_K, l=_KANON_L
)


# --------------------------------------------------------------------------
# Differentially-private release: per-group counts + deterministic Laplace
# --------------------------------------------------------------------------

_DP_EPS_INV = 2  # b = sensitivity/epsilon = 1/0.5 (integer so noise stays exact)

_DP_ORACLE = f"""
WITH counts AS (
    SELECT c_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS true_n
    FROM customer GROUP BY 1
),
seeded AS (
    SELECT nation, true_n,
           (CAST(('0x' || substr(md5('dp:' || CAST(nation AS VARCHAR)), 1, 8))
                 AS BIGINT) + 0.5) / 4294967296.0 AS u
    FROM counts
),
noised AS (
    SELECT nation, true_n,
           CASE WHEN u < 0.5
                THEN  {_DP_EPS_INV} * CAST(ROUND(1000000.0 * LN(2.0 * u))
                                           AS BIGINT)
                ELSE -{_DP_EPS_INV} * CAST(ROUND(1000000.0 * LN(2.0 - 2.0 * u))
                                           AS BIGINT)
           END AS noise_micro
    FROM seeded
)
SELECT nation, true_n, noise_micro,
       GREATEST(CAST(0 AS BIGINT),
                true_n + CAST(ROUND(noise_micro / 1000000.0) AS BIGINT))
           AS released_n
FROM noised
ORDER BY nation
"""


@query("privacy_dp_release", oracle=_DP_ORACLE)
def privacy_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    sensitivity 1, ε = 1/{b}): per-nation customer counts plus
    Laplace(0, {b}) noise, clamped at zero — what the privacy team
    publishes after privacy_k_anonymity's audit. The noise draw is the
    suite's deterministic-randomness device (md5-seeded uniform →
    inverse CDF, the DSIR Gumbel trick), so releases are reproducible
    and the oracle replays them bit-for-bit; ln() is micro-nat-rounded
    to a bigint BEFORE scaling so the released integers are exact
    integer arithmetic in both engines. true_n rides along as the
    audit companion (the published artifact would drop it), the
    approx-sketch discipline.

    Scale shape: one partial-aggregated count shuffle; the noise is a
    narrow per-row expression on the 25-row result.
    """
    counts = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = md5_uniform("dp:", F.col("nation"))
    ln_lo = F.round(F.lit(1000000.0) * F.log(2.0 * u)).cast("long")
    ln_hi = F.round(F.lit(1000000.0) * F.log(2.0 - 2.0 * u)).cast("long")
    noise_micro = F.when(u < 0.5, F.lit(_DP_EPS_INV) * ln_lo).otherwise(
        F.lit(-_DP_EPS_INV) * ln_hi
    )
    return (
        counts.select(
            "nation",
            "true_n",
            noise_micro.alias("noise_micro"),
            F.greatest(
                F.lit(0).cast("long"),
                F.col("true_n")
                + F.round(noise_micro / 1000000.0).cast("long"),
            ).alias("released_n"),
        )
        .orderBy("nation")
    )


privacy_dp_release.__doc__ = privacy_dp_release.__doc__.format(b=_DP_EPS_INV)


# --------------------------------------------------------------------------
# Privacy audit III: t-closeness (ordered EMD vs the global distribution)
# --------------------------------------------------------------------------

_TCLOSE_T_MICRO = 200_000  # t = 0.2

# Per-band EMD contribution: |cum_g/n_g − cum_all/N| cleared to the
# common denominator — cum_g·N − cum_all·n_g is an exact integer, so the
# per-band pin is exact and the cross-band sum order-free. Products run
# in doubles cast from exact bigints (identical in both engines; the
# int64 product would overflow first — the memory'd CAPM lesson).
_TCLOSE_TERM = (
    "CAST(round(abs(CAST(cum_g AS DOUBLE) * n_total"
    " - CAST(cum_all AS DOUBLE) * n_g)) AS BIGINT)"
)

# m_bands = 1 degenerate (every balance in one band): the normalizer
# n_g*n_total*(m_bands-1) is 0 and 0/0 = NaN — Spark's CAST(NaN AS
# BIGINT) yields 0 while DuckDB's raises, so BOTH engines guard to NULL
# (the _WELCH_F_EXPR pole pattern; one-band case in the degenerate
# fuzz tests).
_TCLOSE_EMD = (
    "CASE WHEN m_bands <= 1 THEN NULL"
    " ELSE CAST(round(1000000.0 * CAST(emd_sum AS DOUBLE)"
    " / (CAST(n_g AS DOUBLE) * n_total * (m_bands - 1))) AS BIGINT) END"
)

_TCLOSE_ORACLE = f"""
WITH base AS (
    SELECT c_nationkey AS nation, c_mktsegment AS segment,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
    FROM customer
),
cnt AS (
    SELECT nation, segment, band, CAST(COUNT(*) AS BIGINT) AS n_gv
    FROM base GROUP BY 1, 2, 3
),
bands AS (
    SELECT band, CAST(SUM(n_gv) AS BIGINT) AS n_v FROM cnt GROUP BY band
),
grps AS (
    SELECT nation, segment, CAST(SUM(n_gv) AS BIGINT) AS n_g
    FROM cnt GROUP BY 1, 2
),
tot AS (
    SELECT CAST(SUM(n_v) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS m_bands
    FROM bands
),
dense AS (
    SELECT g.nation, g.segment, g.n_g, b.band, b.n_v,
           COALESCE(c.n_gv, 0) AS n_gv
    FROM grps g
    CROSS JOIN bands b
    LEFT JOIN cnt c ON c.nation = g.nation AND c.segment = g.segment
                   AND c.band = b.band
),
cums AS (
    SELECT nation, segment, n_g, band,
           CAST(SUM(n_gv) OVER (PARTITION BY nation, segment
                ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_g,
           CAST(SUM(n_v) OVER (PARTITION BY nation, segment
                ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_all
    FROM dense
),
emd AS (
    SELECT nation, segment, n_g,
           CAST(SUM({_TCLOSE_TERM.replace("n_total", "t.n_total")})
                AS BIGINT) AS emd_sum
    FROM cums CROSS JOIN tot t
    GROUP BY 1, 2, 3
)
SELECT e.nation, e.segment, e.n_g AS n_records,
       {_TCLOSE_EMD.replace("n_total", "t.n_total")
                   .replace("m_bands", "t.m_bands")} AS emd_micro,
       {_TCLOSE_EMD.replace("n_total", "t.n_total")
                   .replace("m_bands", "t.m_bands")}
           <= {_TCLOSE_T_MICRO} AS t_close
FROM emd e CROSS JOIN tot t
ORDER BY e.nation, e.segment
"""


@query("privacy_t_closeness", oracle=_TCLOSE_ORACLE)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007) — the third tier
    of the release-readiness audit: k-anonymity stops linkage,
    l-diversity stops a constant sensitive value, but a group whose
    sensitive DISTRIBUTION is skewed far from the global one still
    leaks (everyone in the group is *probably* in the top band). Per
    quasi-identifier group (nation, segment), the ordered Earth Mover's
    Distance between the group's balance-band distribution and the
    global one, flagged against t = {t}.

    Exactness: ordered 1-D EMD = mean |cumulative difference|; each
    band's |cum_g/n_g − cum_all/N| clears to the common denominator
    where cum_g·N − cum_all·n_g is an EXACT integer — pinned per band,
    so the cross-band sum is an exact bigint and the final division one
    deterministic double expression.

    Scale shape: one partial-aggregated shuffle to (QI, band) counts
    (dust — bands are bounded), lazily checkpointed (it feeds the band
    margins, group margins, and dense grid — the stats-family one-scan
    discipline); the dense grid is groups × bands dust, the cumulative
    windows run inside each QI partition, and no fact-sized data moves
    after the first reduction.
    """
    cust = table(spark, sf_dir, "customer")
    cnt = (
        cust.select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("band"),
        )
        .groupBy("nation", "segment", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gv"))
        .localCheckpoint(eager=False)
    )
    bands = cnt.groupBy("band").agg(F.sum("n_gv").cast("long").alias("n_v"))
    grps = cnt.groupBy("nation", "segment").agg(
        F.sum("n_gv").cast("long").alias("n_g")
    )
    tot = bands.agg(
        F.sum("n_v").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m_bands"),
    )
    dense = (
        grps.crossJoin(F.broadcast(bands))  # bounded: fixed quantile band grid
        .join(cnt, ["nation", "segment", "band"], "left")
        .select(
            "nation",
            "segment",
            "n_g",
            "band",
            "n_v",
            F.coalesce("n_gv", F.lit(0)).cast("long").alias("n_gv"),
        )
    )
    wcum = (
        Window.partitionBy("nation", "segment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = dense.select(
        "nation",
        "segment",
        "n_g",
        "band",
        F.sum("n_gv").over(wcum).cast("long").alias("cum_g"),
        F.sum("n_v").over(wcum).cast("long").alias("cum_all"),
    )
    emd = (
        cums.crossJoin(F.broadcast(tot))  # bounded: 1-row global aggregate
        .groupBy("nation", "segment", "n_g", "n_total", "m_bands")
        .agg(F.sum(F.expr(_TCLOSE_TERM)).cast("long").alias("emd_sum"))
    )
    return emd.select(
        "nation",
        "segment",
        F.col("n_g").alias("n_records"),
        F.expr(_TCLOSE_EMD).alias("emd_micro"),
        (F.expr(_TCLOSE_EMD) <= _TCLOSE_T_MICRO).alias("t_close"),
    ).orderBy("nation", "segment")


privacy_t_closeness.__doc__ = privacy_t_closeness.__doc__.format(
    t=_TCLOSE_T_MICRO / 1e6
)
