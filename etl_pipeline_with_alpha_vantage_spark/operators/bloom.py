"""Explicit Bloom-filter semi-join with a false-positive audit.

Spark injects runtime bloom filters into joins on its own
(spark.sql.optimizer.runtime.bloomFilter.enabled); this operator builds
the SAME mechanism out of open relational algebra — deterministic hash
positions, a bit_or-aggregated bitmap, probe-side AND-of-bits — so the
data-reduction step a 100 TB join depends on is itself testable: the
audit compares bloom verdicts against exact membership and reports the
false-positive rate the theory promises (one-sided error only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import md5_long
from ..registry import query

_BLOOM_K = 3  # hash functions
_BITS_PER_WORD = 63  # bits 0..62 only — bit 63 is the sign bit in BOTH
_N_WORDS = 64  # engines' BIGINT; staying below it keeps shifts portable
_BLOOM_M = _BITS_PER_WORD * _N_WORDS  # 4032 positions


def _pos_sql(d: str, key: str) -> str:
    return (
        f"('0x' || substr(md5('bloom:' || CAST({d} AS VARCHAR) || ':'"
        f" || CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {_BLOOM_M}"
    )


_BLOOM_ORACLE = f"""
WITH build AS (
    SELECT DISTINCT o_custkey AS key FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
hashes AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS d),
bloom AS (
    SELECT CAST({_pos_sql('h.d', 'b.key')} / {_BITS_PER_WORD} AS BIGINT)
               AS word,
           bit_or(CAST(power(2, {_pos_sql('h.d', 'b.key')}
                               % {_BITS_PER_WORD}) AS BIGINT)) AS bits
    FROM build b, hashes h
    GROUP BY 1
),
probes AS (
    SELECT c.c_custkey,
           CAST({_pos_sql('h.d', 'c.c_custkey')} / {_BITS_PER_WORD} AS BIGINT)
               AS word,
           CAST(power(2, {_pos_sql('h.d', 'c.c_custkey')}
                         % {_BITS_PER_WORD}) AS BIGINT) AS mask
    FROM customer c, hashes h
),
verdicts AS (
    SELECT p.c_custkey,
           MIN(CASE WHEN (bl.bits & p.mask) <> 0 THEN 1 ELSE 0 END)
               AS maybe_in
    FROM probes p LEFT JOIN bloom bl ON bl.word = p.word
    GROUP BY 1
),
truth AS (
    SELECT v.c_custkey, v.maybe_in,
           CASE WHEN EXISTS (SELECT 1 FROM build b
                             WHERE b.key = v.c_custkey)
                THEN 1 ELSE 0 END AS is_member
    FROM verdicts v
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(is_member) AS BIGINT) AS n_members,
       CAST(SUM(1 - maybe_in) AS BIGINT) AS n_definitely_out,
       CAST(SUM(maybe_in) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN maybe_in = 1 AND is_member = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
       SUM(CASE WHEN maybe_in = 0 AND is_member = 1
                THEN 1 ELSE 0 END) = 0 AS no_false_negatives
FROM truth
"""


def _pos_col(d: int, key) -> F.Column:
    return md5_long(f"bloom:{d}:", key) % _BLOOM_M


@query("join_bloom_semi", oracle=_BLOOM_ORACLE)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join audit: urgent-order customer keys build a
    {k}-hash, {m}-bit filter (bit_or-aggregated bitmap, {w} bigint
    words); every customer probes it; verdicts are scored against exact
    membership. Reports definitely-out/maybe splits, the false-positive
    count, and an in-plan proof of ZERO false negatives — the property
    that makes bloom pruning safe at all.

    Scale shape: the filter is {w} rows regardless of build size —
    that is the whole point: a 100 TB probe side joins a broadcast
    bitmap table and discards definitely-out rows BEFORE the expensive
    exact join (Spark's runtime bloom injection does exactly this;
    here the mechanism is explicit and audited). Bits stay below the
    sign bit so shifts are portable; positions come from the md5
    family, so even verdict counts hash-match the oracle.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    mask = lambda pos: F.pow(F.lit(2.0), pos % _BITS_PER_WORD).cast("long")  # noqa: E731
    word = lambda pos: (pos / _BITS_PER_WORD).cast("long")  # noqa: E731

    def fanout(df: DataFrame, keycol: str) -> DataFrame:
        probes = F.array(
            *[
                F.struct(
                    word(_pos_col(d, F.col(keycol))).alias("word"),
                    mask(_pos_col(d, F.col(keycol))).alias("mask"),
                )
                for d in range(_BLOOM_K)
            ]
        )
        return df.select(keycol, F.explode(probes).alias("p")).select(
            keycol, "p.word", "p.mask"
        )

    bloom = (
        fanout(build, "key")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    verdicts = (
        fanout(cust, "c_custkey")
        .join(F.broadcast(bloom), "word", "left")  # bounded: bitmap table: <= m/64 words regardless of build size
        .groupBy("c_custkey")
        .agg(
            F.min(
                (
                    F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(
                        F.col("mask")
                    )
                    != 0
                ).cast("int")
            ).alias("maybe_in")
        )
    )
    truth = verdicts.join(
        build.withColumn("is_member", F.lit(1)),
        verdicts.c_custkey == build.key,
        "left",
    ).select(
        "maybe_in", F.coalesce("is_member", F.lit(0)).alias("is_member")
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum(1 - F.col("maybe_in")).cast("long").alias("n_definitely_out"),
        F.sum("maybe_in").cast("long").alias("n_maybe"),
        F.sum(
            ((F.col("maybe_in") == 1) & (F.col("is_member") == 0)).cast(
                "long"
            )
        ).alias("n_false_positives"),
        (
            F.sum(
                (
                    (F.col("maybe_in") == 0) & (F.col("is_member") == 1)
                ).cast("long")
            )
            == 0
        ).alias("no_false_negatives"),
    )


join_bloom_semi.__doc__ = join_bloom_semi.__doc__.format(
    k=_BLOOM_K, m=_BLOOM_M, w=_N_WORDS
)
