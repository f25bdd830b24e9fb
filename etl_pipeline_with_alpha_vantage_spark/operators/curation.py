"""Corpus-curation operators a 100 TB training-data pipeline runs between
dedup and tokenization: per-domain caps, reproducible global shuffling,
length-bucketed batch packing, and sketch-based heavy-hitter screens.

Reference parity: the reference (`/root/reference/etl.py`) stops at
loading clean rows; these are the curation passes a user of that pipeline
would layer on top before training-data export, re-expressed Spark-first
(window ranks, hash orders, closed-form bucket math, mergeable sketches —
never a driver-side loop over rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import spread, table
from ..functions.exact import cents, md5_long, md5_uniform, norm_text
from ..registry import query

# --------------------------------------------------------------------------
# Per-domain cap (CommonCrawl-style source capping)
# --------------------------------------------------------------------------

_DOMAIN_CAP = 10

_DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                               AS n_docs,
       CAST(SUM(CASE WHEN rk <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT)                                        AS n_kept,
       CAST(SUM(CASE WHEN rk > {_DOMAIN_CAP} THEN 1 ELSE 0 END)
            AS BIGINT)                                        AS n_dropped,
       CAST(SUM(CASE WHEN rk <= {_DOMAIN_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT)                                        AS kept_chars,
       CAST(SUM(CASE WHEN rk > {_DOMAIN_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT)                                        AS dropped_chars
FROM ranked
GROUP BY source
ORDER BY source
"""


@query("sample_domain_cap", oracle=_DOMAIN_CAP_ORACLE)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source (domain) at {k} documents, keeping the longest —
    the CommonCrawl-style curation pass that stops one over-crawled
    domain from dominating the training mix. Deterministic rank
    (n_chars DESC, doc_id) makes membership reproducible run-to-run.
    Per source: total docs, kept/dropped counts, and the characters
    retained vs shed.

    Scale shape: ONE hash shuffle on source, per-partition sort for the
    window rank, then the per-source accounting folds in the same pass
    (no second shuffle — the aggregation keys on the partition column).
    A skewed mega-domain makes the window partition hot; the standard
    mitigation (pre-aggregate a per-(source, salt) top-cap first, then
    re-rank the ≤ salt×cap survivors) is the skew.py device and drops
    in without changing semantics.
    """
    docs = table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), F.col("doc_id")
        )
    )
    kept = F.col("rk") <= _DOMAIN_CAP
    return (
        docs.select("source", "n_chars", "doc_id").withColumn("rk", rk)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum((~kept).cast("long")).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
            F.sum(F.when(~kept, F.col("n_chars")).otherwise(0)).alias(
                "dropped_chars"
            ),
        )
        .orderBy("source")
    )


sample_domain_cap.__doc__ = sample_domain_cap.__doc__.format(k=_DOMAIN_CAP)

# --------------------------------------------------------------------------
# Weighted sampling without replacement (priority sampling, per language)
# --------------------------------------------------------------------------

_AES_K = 25
_AES_SCALE = 2**33  # priority = (w · 2³³) DIV (2h+1): exact integer race

_AES_ORACLE = f"""
WITH h AS (
    SELECT doc_id, lang, n_chars,
           ('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT AS h
    FROM documents
),
pri AS (
    SELECT doc_id, lang, n_chars,
           (n_chars * {_AES_SCALE}) // (2 * h + 1) AS priority
    FROM h
),
rk AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY priority DESC, doc_id) AS rk
    FROM pri
),
tau AS (
    SELECT lang,
           COALESCE(MAX(CASE WHEN rk = {_AES_K + 1} THEN priority END), 0)
               AS tau
    FROM rk GROUP BY lang
)
SELECT r.lang, CAST(r.rk AS INT) AS rk, r.doc_id,
       CAST(r.n_chars AS BIGINT) AS n_chars,
       CAST(r.priority AS BIGINT) AS priority,
       CAST(t.tau AS BIGINT) AS tau,
       CAST(GREATEST(r.n_chars, t.tau) AS BIGINT) AS contrib
FROM rk r JOIN tau t USING (lang)
WHERE r.rk <= {_AES_K}
"""


@query("sample_weighted_priority", oracle=_AES_ORACLE)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, {k} docs per language, by
    priority sampling (Duffield-Lund-Thorup, JACM'07) — the curation
    move when you want long documents favored but every doc to keep a
    chance, unlike the deterministic top-k of sample_domain_cap.
    Priority = weight/u with u a per-doc uniform; taking the top-k by
    priority IS a weighted sample, and the (k+1)-th priority τ makes
    max(w, τ) an unbiased per-item estimator of any subset's total
    weight (emitted as contrib: Σ over the sample estimates the
    language's total characters without a second pass — within ~20% at
    k=25 on the fixture corpora, exact when a language fits in k;
    tests/test_curation.py).

    Exactness: u comes from the portable 32-bit md5 prefix and the race
    runs ENTIRELY in integers — priority = (w · 2³³) DIV (2h+1) ≡
    ⌊w/u⌋ with u = (2h+1)/2³³ — so Spark and DuckDB rank identically
    with no transcendental (the classic A-ES key u^(1/w) needs ln(),
    whose last-ulp differences across engines could flip selections).

    Scale shape: one md5 per row JVM-side, ONE hash shuffle on lang;
    the rank window and the full-partition τ window share that
    partitioning (no second exchange). At 100 TB the per-language
    top-(k+1) is window-rank state, never a global sort.
    """
    docs = table(spark, sf_dir, "documents")
    h = md5_long("aes:", F.col("doc_id"))
    pri = docs.select("doc_id", "lang", "n_chars", h.alias("h")).withColumn(
        "priority", F.expr(f"(n_chars * {_AES_SCALE}) DIV (2 * h + 1)")
    )
    rkw = Window.partitionBy("lang").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    lang_all = Window.partitionBy("lang")
    ranked = pri.withColumn("rk", F.row_number().over(rkw)).withColumn(
        "tau",
        F.coalesce(
            F.max(
                F.when(F.col("rk") == _AES_K + 1, F.col("priority"))
            ).over(lang_all),
            F.lit(0).cast("long"),
        ),
    )
    return ranked.filter(F.col("rk") <= _AES_K).select(
        "lang",
        F.col("rk").cast("int").alias("rk"),
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("priority").cast("long").alias("priority"),
        F.col("tau").cast("long").alias("tau"),
        F.greatest(F.col("n_chars"), F.col("tau"))
        .cast("long")
        .alias("contrib"),
    )


sample_weighted_priority.__doc__ = sample_weighted_priority.__doc__.format(
    k=_AES_K
)

# --------------------------------------------------------------------------
# Reproducible global training order (seeded shuffle)
# --------------------------------------------------------------------------

_SHUFFLE_SEED = 42
_SHUFFLE_HEAD = 100

_SHUFFLE_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, source,
           md5('shuf:{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
           AS position,
       doc_id, source, shuffle_key
FROM keyed
ORDER BY shuffle_key, doc_id
LIMIT {_SHUFFLE_HEAD}
"""


@query("shuffle_training_order", oracle=_SHUFFLE_ORACLE)
def shuffle_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded, reproducible GLOBAL shuffle of the corpus — the data-order
    pass every training run needs (epoch ordering must be random yet
    bit-reproducible across reruns and engines). Order key is
    md5(seed || doc_id): uniform, deterministic, engine-portable.
    Returns the first {n} documents of the epoch with their positions.

    Scale shape: rand() would be neither reproducible nor restartable;
    a hash order is both, and Spark's orderBy range-partitions on
    sampled key boundaries so the full-corpus write stays a single
    range exchange with no driver materialization. The bounded head
    here compiles to TakeOrderedAndProject — per-partition top-{n} then
    a driver merge of 32 small heaps, never a full sort.
    """
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(
                F.lit(f"shuf:{_SHUFFLE_SEED}:"),
                F.col("doc_id").cast("string"),
            )
        ).alias("shuffle_key"),
    )
    head = keyed.orderBy("shuffle_key", "doc_id").limit(_SHUFFLE_HEAD)
    return head.select(
        F.row_number()
        .over(Window.orderBy("shuffle_key", "doc_id"))
        .cast("long")
        .alias("position"),
        "doc_id",
        "source",
        "shuffle_key",
    )


shuffle_training_order.__doc__ = shuffle_training_order.__doc__.format(
    n=_SHUFFLE_HEAD
)

# --------------------------------------------------------------------------
# Length-bucketed batch packing (padding-waste accounting)
# --------------------------------------------------------------------------

_BUCKET_FLOOR = 16

_LENGTH_BUCKET_ORACLE = f"""
WITH toks AS (
    SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
),
bucketed AS (
    SELECT n_tokens,
           GREATEST({_BUCKET_FLOOR},
                    CAST(power(2, length(bin(n_tokens - 1))) AS BIGINT))
               AS bucket_cap
    FROM toks
)
SELECT bucket_cap,
       CAST(COUNT(*) AS BIGINT)      AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(bucket_cap * COUNT(*) AS BIGINT) AS padded_tokens,
       CAST(CAST(bucket_cap * COUNT(*) - SUM(n_tokens) AS DOUBLE)
            / CAST(bucket_cap * COUNT(*) AS DOUBLE) AS DOUBLE)
           AS waste_frac
FROM bucketed
GROUP BY bucket_cap
ORDER BY bucket_cap
"""


@query("pack_length_buckets", oracle=_LENGTH_BUCKET_ORACLE)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching accounting — the cheap alternative to
    first-fit sequence packing (pack_sequences): documents pad to the
    next power-of-two token cap (floor {floor}), and the per-bucket
    padding waste is computed CLOSED-FORM (cap×docs − tokens) without
    materializing a single padded batch. This is the number a data
    engineer reads to pick bucket boundaries before a training run.

    Cross-engine device: the power-of-two cap avoids floating log2
    boundary hazards — it is 2^bitlength(n−1) via bin(), an integer
    string-length computation identical in both engines; the waste
    fraction is one IEEE division of exact integers. Scale shape: pure
    narrow math then a partial-aggregated shuffle onto ~7 bucket rows.
    """
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    cap = F.greatest(
        F.lit(_BUCKET_FLOOR),
        F.pow(F.lit(2), F.length(F.bin(n_tokens - 1))).cast("long"),
    )
    padded = (F.col("bucket_cap") * F.count(F.lit(1))).cast("long")
    return (
        docs.select(
            n_tokens.alias("n_tokens"), cap.alias("bucket_cap")
        )
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            padded.alias("padded_tokens"),
            (
                (padded - F.sum("n_tokens")).cast("double")
                / padded.cast("double")
            ).alias("waste_frac"),
        )
        .orderBy("bucket_cap")
    )


pack_length_buckets.__doc__ = pack_length_buckets.__doc__.format(
    floor=_BUCKET_FLOOR
)

# --------------------------------------------------------------------------
# Count-min sketch heavy hitters (mergeable, overestimate-bounded)
# --------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 10


def _cms_cell_sql(key: str) -> str:
    """Portable md5 cell index for depth-row ``d.d`` over ``key``."""
    return (
        f"('0x' || substr(md5('cms:' || CAST(d.d AS VARCHAR) || ':'"
        f" || CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {_CMS_WIDTH}"
    )


_CMS_ORACLE = f"""
WITH depths AS (
    SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d
),
hashed AS (
    SELECT d.d AS depth, {_cms_cell_sql('user_id')} AS cell
    FROM events, depths d
),
cells AS (
    SELECT depth, cell, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM hashed GROUP BY 1, 2
),
exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY 1
    ORDER BY exact_cnt DESC, user_id LIMIT {_CMS_TOPK}
),
probe AS (
    SELECT e.user_id, e.exact_cnt, d.d AS depth,
           {_cms_cell_sql('e.user_id')} AS cell
    FROM exact e, depths d
)
SELECT p.user_id, p.exact_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
       MIN(c.cnt) >= p.exact_cnt AS never_underestimates
FROM probe p
JOIN cells c ON c.depth = p.depth AND c.cell = p.cell
GROUP BY 1, 2
ORDER BY exact_cnt DESC, user_id
"""


@query("agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies from a MERGEABLE count-min sketch
    (depth {d} × width {w}), audited against exact counts — the
    complement of agg_hll_mergeable (distinct counts) for the other
    sketch every 100 TB pipeline carries. The sketch's {d}×{w} counter
    grid is a commutative monoid: per-partition/per-day grids sum
    cell-wise, so re-aggregating history is O(grid), never O(events).

    Plan: one partial-aggregated shuffle builds the grid (events
    explode ×{d} rows — a constant fan-out — then reduce onto ≤{d}×{w}
    cells); the exact top-{k} comes from the standard count/top-k pass;
    the estimate joins the {k}×{d} probe keys against the grid
    (broadcast — both sides are dust) and takes MIN per user. The
    audit column asserts CMS's one-sided error guarantee
    (estimate ≥ truth, always) in-plan, the agg_approx_distinct
    discipline: engine-specific sketch internals never enter the hash —
    here even the estimates hash-match because the hash family is the
    portable md5 device shared with the oracle.
    """
    ev = table(spark, sf_dir, "events")
    return cms_audit_heavy_hitters(ev, "user_id", _CMS_TOPK)


def _cms_probes(key_col: str) -> F.Column:
    """(depth, cell) probe array for one key; _cms_cell_sql is the
    oracle's twin."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (md5_long(f"cms:{d}:", F.col(key_col)) % _CMS_WIDTH).alias("cell"),
            )
            for d in range(_CMS_DEPTH)
        ]
    )


def cms_audit_heavy_hitters(df, key_col: str, top_k: int):
    """Count-min grid build + heavy-hitter estimate audit over any
    keyed frame — the kernel behind agg_cms_heavy_hitters, shared with
    the volume suite so the grid/probe/min path proven at 5M rows is
    the one the registry query runs."""
    hashed = df.select(key_col, F.explode(_cms_probes(key_col)).alias("p")).select(
        key_col,
        F.col("p.depth").alias("depth"),
        F.col("p.cell").alias("cell"),
    )
    cells = hashed.groupBy("depth", "cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), key_col)
        .limit(top_k)
    )
    probe_keys = exact.select(
        key_col, "exact_cnt", F.explode(_cms_probes(key_col)).alias("p")
    ).select(
        key_col,
        "exact_cnt",
        F.col("p.depth").alias("depth"),
        F.col("p.cell").alias("cell"),
    )
    est = (
        F.broadcast(probe_keys)  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .join(cells, ["depth", "cell"])
        .groupBy(key_col, "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        key_col,
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias(
            "never_underestimates"
        ),
    ).orderBy(F.col("exact_cnt").desc(), key_col)


agg_cms_heavy_hitters.__doc__ = agg_cms_heavy_hitters.__doc__.format(
    d=_CMS_DEPTH, w=_CMS_WIDTH, k=_CMS_TOPK
)


# --------------------------------------------------------------------------
# End-to-end curation funnel — dedup → domain cap → quality, one pass
# --------------------------------------------------------------------------

_FUNNEL_CAP = 10
_FUNNEL_MIN_TOKENS = 20
_FUNNEL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))"

_FUNNEL_ORACLE = f"""
WITH flagged AS (
    SELECT doc_id, source, n_chars,
           len(string_split(text, ' ')) AS toks,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5({_FUNNEL_NORM}))
                THEN 1 ELSE 0 END AS keep_dedup
    FROM documents
),
ranked AS (
    SELECT *,
           SUM(keep_dedup) OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS surv_rank
    FROM flagged
),
final AS (
    SELECT toks,
           keep_dedup,
           CASE WHEN keep_dedup = 1 AND surv_rank <= {_FUNNEL_CAP}
                THEN 1 ELSE 0 END AS keep_cap,
           CASE WHEN keep_dedup = 1 AND surv_rank <= {_FUNNEL_CAP}
                     AND toks >= {_FUNNEL_MIN_TOKENS}
                THEN 1 ELSE 0 END AS keep_quality
    FROM ranked
)
SELECT 1 AS stage_id, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens FROM final
UNION ALL
SELECT 2, 'dedup_normhash', CAST(SUM(keep_dedup) AS BIGINT),
       CAST(SUM(keep_dedup * toks) AS BIGINT) FROM final
UNION ALL
SELECT 3, 'domain_cap', CAST(SUM(keep_cap) AS BIGINT),
       CAST(SUM(keep_cap * toks) AS BIGINT) FROM final
UNION ALL
SELECT 4, 'quality_min_tokens', CAST(SUM(keep_quality) AS BIGINT),
       CAST(SUM(keep_quality * toks) AS BIGINT) FROM final
ORDER BY stage_id
"""


@query("pipeline_curation_funnel", oracle=_FUNNEL_ORACLE)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation chain as ONE funnel with per-stage yield:
    raw → exact (normalized-hash) dedup → per-domain cap → minimum
    token quality gate, reporting surviving documents and tokens at
    every stage — the yield report a training-data run publishes.

    Composition device: stages chain as FLAGS in one pipeline instead
    of materialized intermediates. The domain-cap rank among dedup
    SURVIVORS needs no second filtered pass: a running SUM(keep_dedup)
    over the (source, length-desc) window IS the survivor rank at
    survivor rows. Two window shuffles (hash key, then source) plus an
    in-row unpivot of one aggregate row; the corpus is scanned once.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    flagged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        toks.alias("toks"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5(norm_text())))
        )
        .cast("int")
        .alias("keep_dedup"),
    )
    surv_rank = F.sum("keep_dedup").over(
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    final = flagged.select(
        "toks",
        "keep_dedup",
        (
            (F.col("keep_dedup") == 1) & (surv_rank <= _FUNNEL_CAP)
        )
        .cast("int")
        .alias("keep_cap"),
    ).withColumn(
        "keep_quality",
        (
            (F.col("keep_cap") == 1)
            & (F.col("toks") >= _FUNNEL_MIN_TOKENS)
        ).cast("int"),
    )
    one = final.agg(
        F.count(F.lit(1)).alias("d1"),
        F.sum("toks").alias("t1"),
        F.sum("keep_dedup").alias("d2"),
        F.sum(F.col("keep_dedup") * F.col("toks")).alias("t2"),
        F.sum("keep_cap").alias("d3"),
        F.sum(F.col("keep_cap") * F.col("toks")).alias("t3"),
        F.sum("keep_quality").alias("d4"),
        F.sum(F.col("keep_quality") * F.col("toks")).alias("t4"),
    )
    stages = ["raw", "dedup_normhash", "domain_cap", "quality_min_tokens"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_id"),
                F.lit(s).alias("stage"),
                F.col(f"d{i + 1}").cast("long").alias("n_docs"),
                F.col(f"t{i + 1}").cast("long").alias("n_tokens"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("stage_id")
    )


# --------------------------------------------------------------------------
# Export shard plan — deterministic sharding with skew audit
# --------------------------------------------------------------------------

_EXPORT_SHARDS = 16

_SHARD_PLAN_ORACLE = f"""
WITH assigned AS (
    SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % {_EXPORT_SHARDS} AS shard,
           n_chars
    FROM documents
),
cells AS (
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes
    FROM assigned GROUP BY 1
)
SELECT shard, n_docs, n_bytes,
       CAST(CAST(n_bytes AS DOUBLE)
            / (CAST(SUM(n_bytes) OVER () AS DOUBLE) / {_EXPORT_SHARDS})
            AS DOUBLE) AS skew_vs_mean
FROM cells
ORDER BY shard
"""


@query("export_shard_plan", oracle=_SHARD_PLAN_ORACLE)
def export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard planning: documents assign to {n} shards by
    salted md5 (reproducible, join-free — the same key discipline as
    shuffle_training_order, so re-exports land identically), and the
    plan reports per-shard doc/byte totals plus each shard's byte skew
    against the ideal mean. A skewed shard is a straggler at training
    time; this is the audit run BEFORE writing a single output file.

    Scale shape: one partial-aggregated shuffle onto {n} rows; the skew
    normalization windows over those {n} rows only. The actual export
    is then `df.repartition(shard).write` riding the same hash — the
    plan and the write share the key by construction.
    """
    docs = table(spark, sf_dir, "documents")
    shard = md5_long("shard:", F.col("doc_id")) % _EXPORT_SHARDS
    cells = (
        docs.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_bytes"),
        )
    )
    total = Window.partitionBy()
    return cells.select(
        "shard",
        "n_docs",
        "n_bytes",
        (
            F.col("n_bytes").cast("double")
            / (F.sum("n_bytes").over(total).cast("double") / _EXPORT_SHARDS)
        )
        .cast("double")
        .alias("skew_vs_mean"),
    ).orderBy("shard")


export_shard_plan.__doc__ = export_shard_plan.__doc__.format(
    n=_EXPORT_SHARDS
)


# --------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al. 2023)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TOPK = 50

_DSIR_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, lang, source,
           list_filter(string_split(text, ' '), x -> x <> '') AS t
    FROM documents WHERE length(text) > 0
),
grams AS (
    SELECT doc_id, lang,
           list_concat(
               t,
               CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> t[i] || '_' || t[i + 1])
                    ELSE []::VARCHAR[] END) AS g
    FROM docs
),
feats AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5('dsir:' || u.gram), 1, 8))::BIGINT
               % {_DSIR_BUCKETS} AS bucket
    FROM grams, UNNEST(g) AS u(gram)
),
tc AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM feats WHERE lang = 'en' GROUP BY 1
),
rc AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM feats GROUP BY 1
),
tot AS (
    SELECT (SELECT SUM(c) FROM tc) AS t_n, (SELECT SUM(c) FROM rc) AS r_n
),
ratio AS (
    SELECT rc.bucket,
           CAST(round(ln((COALESCE(tc.c, 0) + 1.0)
                         / (tot.t_n + {_DSIR_BUCKETS})) * 1000000) AS BIGINT)
         - CAST(round(ln((rc.c + 1.0)
                         / (tot.r_n + {_DSIR_BUCKETS})) * 1000000) AS BIGINT)
               AS lr_micro
    FROM rc LEFT JOIN tc USING (bucket), tot
),
scored AS (
    SELECT f.doc_id, CAST(SUM(r.lr_micro) AS BIGINT) AS logw_micro
    FROM feats f JOIN ratio r USING (bucket) GROUP BY 1
),
noised AS (
    SELECT s.doc_id, d.lang, d.source, s.logw_micro,
           CAST(round(-ln(-ln(
               ((('0x' || substr(md5('dsir-g:' || CAST(s.doc_id AS VARCHAR)),
                           1, 8))::BIGINT) + 0.5) / 4294967296.0))
               * 1000000) AS BIGINT) AS gumbel_micro
    FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, source, logw_micro, gumbel_micro,
       logw_micro + gumbel_micro AS score_micro
FROM noised
ORDER BY score_micro DESC, doc_id
LIMIT {_DSIR_TOPK}
"""


@query("sample_dsir_importance", oracle=_DSIR_ORACLE)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, public): pick the raw-corpus documents that look most like a
    target corpus, by importance weight under hashed-n-gram bag models.

    Recipe, exactly the paper's shape: (1) features = word unigrams +
    bigrams hashed into {b} buckets; (2) fit add-1-smoothed multinomials
    over buckets for the TARGET slice (here lang='en', standing in for
    the quality corpus) and the RAW corpus; (3) each document's log
    importance weight is the sum over its feature occurrences of
    ln p_target(bucket) − ln p_raw(bucket); (4) Gumbel-top-k resample:
    add deterministic Gumbel noise −ln(−ln(u)) with u drawn from
    md5(doc_id) and keep the top {k} by noised score — equivalent to
    sampling without replacement ∝ the importance weights, but
    reproducible and partitioning-independent.

    Cross-engine exactness: every ln consumes an exact rational built
    from identical bigints and is rounded to integer micro-nats BEFORE
    any summation (the text_bigram_lm discipline), so scores are exact
    integer sums; the Gumbel uniform is (h + 0.5)/2^32 from the md5
    prefix — never 0 or 1, and bit-identical in both engines.

    Scale shape: the exploded+hashed feature stream collapses to
    per-(doc, bucket) counts in ONE map-side-combined shuffle and is
    lineage-truncated there, so the expensive scan runs exactly once;
    both multinomial fits are re-aggregations of that bounded table
    (≤ docs × {b} rows), the ≤{b}-row log-ratio table broadcasts to the
    scoring join (weighted by the stored counts), and the final ORDER
    BY runs on one row per document with a constant-size global
    top-{k} — TakeOrderedAndProject, never a full sort.
    """
    # spread() before the explode+hash feature stream (r13): the small
    # documents file scans as ONE partition and the entire
    # tokenize/bigram/md5 pipeline up to the first shuffle ran on a
    # single core (measured min-of-5 at sf0.1: 1.48 s → 0.83 s). At
    # 100 TB the scan is well-split and spread() is a no-op.
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.filter(F.split("text", " "), lambda x: x != F.lit("")).alias("t"),
    )
    # zip_with over two slices, not transform(sequence)+element_at: the
    # latter re-evaluates the inlined token array per element (see
    # text_bigrams_top — quadratic in tokens, measured ~5×).
    bigrams = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("t"), bigrams)).alias("gram"),
    )
    feats = grams.select(
        "doc_id",
        "lang",
        (md5_long("dsir:", F.col("gram")) % _DSIR_BUCKETS).alias("bucket"),
    )
    # Collapse the exploded+hashed feature stream to per-(doc, bucket)
    # counts ONCE and truncate lineage: both model fits and the scoring
    # pass read this bounded table (≤ docs × buckets rows), so the
    # explode/md5 scan — the expensive part — runs exactly once instead
    # of once per downstream branch. Same device as the CC sweeps.
    cnts = (
        feats.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bucket_tab = cnts.groupBy("bucket").agg(
        F.sum("cnt").alias("rc"),
        F.sum(
            F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)
        ).alias("tc"),
    )
    tiny = Window.partitionBy()
    ratio = (
        bucket_tab.select(
            "bucket",
            "tc",
            "rc",
            F.sum("tc").over(tiny).alias("t_n"),
            F.sum("rc").over(tiny).alias("r_n"),
        )
        .select(
            "bucket",
            (
                cents(F.log((F.col("tc") + 1.0) / (F.col("t_n") + _DSIR_BUCKETS)), 6)
                - cents(F.log((F.col("rc") + 1.0) / (F.col("r_n") + _DSIR_BUCKETS)), 6)
            ).alias("lr_micro"),
        )
    )
    scored = (
        cnts.join(F.broadcast(ratio), "bucket")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("lr_micro"))
            .cast("long")
            .alias("logw_micro")
        )
    )
    u = md5_uniform("dsir-g:", F.col("doc_id"))
    gumbel = cents(-F.log(-F.log(u)), 6)
    noised = scored.join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        "source",
        "logw_micro",
        gumbel.alias("gumbel_micro"),
        (F.col("logw_micro") + gumbel).alias("score_micro"),
    )
    return noised.orderBy(
        F.col("score_micro").desc(), "doc_id"
    ).limit(_DSIR_TOPK)


sample_dsir_importance.__doc__ = sample_dsir_importance.__doc__.format(
    b=_DSIR_BUCKETS, k=_DSIR_TOPK
)


# --------------------------------------------------------------------------
# Corpus novelty decay across crawl batches
# --------------------------------------------------------------------------

_NOVELTY_BATCHES = 8

_NOVELTY_ORACLE = f"""
WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),
grams AS (
    SELECT DISTINCT
           CAST(FLOOR(doc_id * {_NOVELTY_BATCHES}.0 / m) AS BIGINT) AS batch,
           concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS gram
    FROM toks, mx, unnest(generate_series(1, len(t) - 2)) AS u(i)
),
firsts AS (SELECT gram, MIN(batch) AS first_batch FROM grams GROUP BY gram)
SELECT g.batch,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_batch = g.batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(ROUND(1000000.0 * SUM(CASE WHEN f.first_batch = g.batch
                                       THEN 1 ELSE 0 END) / COUNT(*))
            AS BIGINT) AS novelty_micro
FROM grams g JOIN firsts f USING (gram)
GROUP BY 1
ORDER BY 1
"""


@query("corpus_novelty_decay", oracle=_NOVELTY_ORACLE)
def corpus_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How fast a growing crawl stops contributing new content: split
    the corpus into {b} ordered batches (by doc_id — crawl order), and
    per batch report how many of its distinct word-trigrams were never
    seen in ANY earlier batch. The novelty_micro curve is the signal
    dataset teams use to decide when further crawling stops paying for
    itself (and the same first-occurrence machinery powers
    incremental-dedup bookkeeping between snapshot ingests).

    Scale shape: one distinct over (batch, gram) pairs (map-side
    combined), one groupBy(gram) for first-occurrence, and a join back
    that reuses the gram partitioning — ~3 keyed exchanges over the
    gram table regardless of corpus size, final report is {b} rows.
    Trigrams come from zip_with over three slices (the measured-fast
    idiom from the MinHash tier).
    """
    docs = table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    n2 = F.size("t") - 2
    tri = F.zip_with(
        F.slice("t", 1, n2),
        F.zip_with(
            F.slice("t", 2, n2),
            F.slice("t", 3, n2),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    grams = (
        toks.crossJoin(F.broadcast(mx))  # bounded: 1-row global aggregate
        .select(
            F.floor(
                F.col("doc_id") * float(_NOVELTY_BATCHES) / F.col("m")
            )
            .cast("long")
            .alias("batch"),
            F.explode(F.array_distinct(tri)).alias("gram"),
        )
        .distinct()
    )
    firsts = grams.groupBy("gram").agg(F.min("batch").alias("first_batch"))
    novel = (F.col("first_batch") == F.col("batch")).cast("long")
    return (
        grams.join(firsts, "gram")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            F.round(F.lit(1000000.0) * F.sum(novel) / F.count(F.lit(1)))
            .cast("long")
            .alias("novelty_micro"),
        )
        .orderBy("batch")
    )


corpus_novelty_decay.__doc__ = corpus_novelty_decay.__doc__.format(
    b=_NOVELTY_BATCHES
)


# --------------------------------------------------------------------------
# k-center coreset: farthest-first traversal over the embedding table
# --------------------------------------------------------------------------

_KC_K = 6        # selections (incl. the seed)
_KC_SEED = 0     # vec_id of the first center


def _kc_oracle() -> str:
    """Chained-CTE replay of the farthest-first traversal: d{r} is the
    running min squared distance to the selected set; each pick is the
    argmax (ties to lowest vec_id), all in exact micro-int bigints."""
    blocks = []
    for r in range(2, _KC_K + 1):
        prev_d = f"d{r - 1}"
        blocks.append(
            f"""p{r} AS (
    SELECT vec_id, dd FROM {prev_d} ORDER BY dd DESC, vec_id LIMIT 1
),
nd{r} AS (
    SELECT p.vec_id,
           CAST(SUM((p.e - s.e) * (p.e - s.e)) AS BIGINT) AS dd
    FROM pts p
    JOIN pts s ON s.vec_id = (SELECT vec_id FROM p{r}) AND s.dim = p.dim
    GROUP BY p.vec_id
),
d{r} AS (
    SELECT a.vec_id, LEAST(a.dd, b.dd) AS dd
    FROM {prev_d} a JOIN nd{r} b ON b.vec_id = a.vec_id
)"""
        )
    chained = ",\n".join(blocks)
    picks = "\nUNION ALL\n".join(
        f"SELECT {r} AS step, vec_id, dd AS radius_sq FROM p{r}"
        for r in range(2, _KC_K + 1)
    )
    return f"""
WITH pts AS (
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                AS BIGINT) AS e
    FROM embeddings
),
d1 AS (
    SELECT p.vec_id,
           CAST(SUM((p.e - s.e) * (p.e - s.e)) AS BIGINT) AS dd
    FROM pts p
    JOIN pts s ON s.vec_id = {_KC_SEED} AND s.dim = p.dim
    GROUP BY p.vec_id
),
{chained}
SELECT CAST(step AS BIGINT) AS step, vec_id, radius_sq FROM (
    SELECT 1 AS step, CAST({_KC_SEED} AS BIGINT) AS vec_id,
           CAST(0 AS BIGINT) AS radius_sq
    UNION ALL
    {picks}
)
ORDER BY step
"""


@query("sample_coreset_kcenter", oracle=_kc_oracle())
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset by FARTHEST-FIRST traversal (Gonzalez 1985) —
    the k-center selection data-curation stacks use to pick a maximally
    spread exemplar subset from an embedding space (diverse eval sets,
    coverage-first fine-tuning subsets, dedup canaries): seed with
    vector {seed}, then {k1} times select the point farthest from the
    already-selected set. Emits (step, vec_id, radius_sq); each pick's
    radius_sq is the 2-approximation guarantee's k-center radius before
    that pick — the curve quantifies how fast coverage saturates.

    Cross-engine exactness: micro-int coordinates make every distance
    an exact bigint; argmax ties break to the lowest vec_id; the
    chained-CTE oracle replays the traversal verbatim.

    Scale shape: the running min-distance column is maintained
    INCREMENTALLY — each round crossJoins the array-shaped corpus with
    ONE broadcast center row, computes the exact integer distance via
    zip_with/aggregate (no per-dimension explode, no shuffle), takes
    LEAST with the previous round's column, and localCheckpoints; the
    pick rides the SAME checkpoint job as an Observation (struct-max =
    argmax with lowest-id tie-break), so each round is exactly ONE
    corpus pass with O(1) driver state — never a k×corpus or corpus²
    materialization, and no separate top-1 pass.
    """
    emb = table(spark, sf_dir, "embeddings")
    # Vectors stay ARRAY-shaped (r12 optimization round): the previous
    # long form (posexplode to (vec_id, dim, e) then a per-round
    # join-on-dim + groupBy(vec_id)) multiplied the corpus ×dims and
    # paid a 128k-row shuffle per round; zip_with + aggregate computes
    # the identical exact-integer squared distance inside one
    # WholeStageCodegen pass with ZERO shuffles per round (same-window
    # A/B ~2.9 s → ~2.5 s here, and ×dims fewer shuffled bytes at any
    # scale). Micro-int rounding expression is byte-for-byte the same
    # arithmetic as before, so every distance is bit-identical.
    pts = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("ev"),
    ).localCheckpoint(eager=True)

    def dist_to(center_id: int) -> DataFrame:
        center = pts.filter(F.col("vec_id") == center_id).select(
            F.col("ev").alias("cev")
        )
        return pts.crossJoin(F.broadcast(center)).select(  # bounded: 1-row center vector
            "vec_id",
            F.expr(
                "aggregate(zip_with(ev, cev, (x, y) -> (x - y) * (x - y)),"
                " 0L, (a, v) -> a + v)"
            ).alias("dd"),
        )

    def ckpt_with_pick(df: DataFrame):
        """Eager-checkpoint the running min-distance column and ride the
        SAME job with an Observation computing the next pick — argmax on
        dd with ties to the LOWEST vec_id, encoded as a lexicographic
        struct MAX (dd, -vec_id), exactly the orderBy(dd DESC, vec_id)
        LIMIT 1 the r11 form collected in a SEPARATE TakeOrdered pass
        over the corpus. One corpus pass per round instead of two (r12
        optimization round: isolated min 4.2 s → see OPTIMIZATION_r12.md);
        the driver still receives only one bounded scalar per round."""
        from pyspark.sql import Observation  # noqa: PLC0415

        obs = Observation()
        out = df.observe(
            obs,
            F.max(
                F.struct(
                    F.col("dd").alias("dd"),
                    (-F.col("vec_id")).alias("neg_id"),
                )
            ).alias("pick"),
        ).localCheckpoint(eager=True)
        pick = obs.get["pick"]
        return out, int(-pick["neg_id"]), int(pick["dd"])

    picks = [(1, _KC_SEED, 0)]
    dcur, far_id, far_dd = ckpt_with_pick(dist_to(_KC_SEED))
    for step in range(2, _KC_K + 1):
        picks.append((step, far_id, far_dd))
        nd = dist_to(far_id).withColumnRenamed("dd", "nd")
        nxt = dcur.join(nd, "vec_id").select(
            "vec_id", F.least("dd", "nd").alias("dd")
        )
        if step == _KC_K:
            # Last pick recorded; the residual column is never read.
            break
        dcur, far_id, far_dd = ckpt_with_pick(nxt)
    return spark.createDataFrame(
        picks, "step long, vec_id long, radius_sq long"
    ).orderBy("step")


sample_coreset_kcenter.__doc__ = sample_coreset_kcenter.__doc__.format(
    seed=_KC_SEED, k1=_KC_K - 1
)


# --------------------------------------------------------------------------
# Soft dedup: duplicate-frequency example downweighting
# --------------------------------------------------------------------------

_SOFT_DW_ORACLE = """
WITH h AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))
               AS norm_hash
    FROM documents
),
c AS (SELECT norm_hash, CAST(COUNT(*) AS BIGINT) AS n_dups FROM h GROUP BY 1)
SELECT h.doc_id,
       c.n_dups,
       CAST(round(1000000.0 / c.n_dups) AS BIGINT) AS weight_micro
FROM h JOIN c USING (norm_hash)
"""


@query("dedup_soft_downweight", oracle=_SOFT_DW_ORACLE)
def dedup_soft_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: keep every copy of a duplicated document but weight
    it 1/count, so the training objective sees each distinct content
    once in expectation (the standard alternative to hard dedup when
    duplication frequency itself is signal — cf. the Pile/RHO-style
    duplicate downweighting recipes).

    One shuffle total: documents are projected to (16-byte norm-hash,
    doc_id) FIRST, then a count window over the hash partition attaches
    the group size — no groupBy + join-back second shuffle, and at
    100 TB the wire carries 24-byte rows, never document text. The
    weight is an exact integer micro-weight (round(1e6/n) on a bigint
    count) so the hash gate is bit-exact.
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("norm_hash")
    return (
        docs.select(F.md5(norm_text()).alias("norm_hash"), "doc_id")
        .withColumn("n_dups", F.count(F.lit(1)).over(w).cast("long"))
        .select(
            "doc_id",
            "n_dups",
            F.expr("CAST(round(1000000.0 / n_dups) AS BIGINT)").alias(
                "weight_micro"
            ),
        )
    )


# --------------------------------------------------------------------------
# Neyman-allocated stratified sampling (variance-proportional budgets)
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000

_NEYMAN_ORACLE = f"""
WITH mom AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS nh,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
    FROM events GROUP BY event_type
),
wts AS (
    SELECT event_type, nh,
           CAST(round(1000000 * nh * sqrt((CAST(q AS DOUBLE)
                      - round(CAST(s AS DOUBLE) / nh * s)) / nh))
                AS BIGINT) AS w_micro
    FROM mom
),
tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS wsum FROM wts),
alloc AS (
    SELECT event_type, nh,
           CAST(floor({_NEYMAN_BUDGET}
                      * (CAST(w_micro AS DOUBLE) / wsum)) AS BIGINT) AS base,
           {_NEYMAN_BUDGET} * (CAST(w_micro AS DOUBLE) / wsum)
               - floor({_NEYMAN_BUDGET}
                       * (CAST(w_micro AS DOUBLE) / wsum)) AS frac
    FROM wts CROSS JOIN tot
),
short AS (
    SELECT CAST({_NEYMAN_BUDGET} - SUM(base) AS BIGINT) AS rem FROM alloc
),
final_alloc AS (
    SELECT event_type, nh,
           base + CASE WHEN row_number() OVER (
                           ORDER BY frac DESC, event_type) <= rem
                       THEN 1 ELSE 0 END AS k
    FROM alloc CROSS JOIN short
),
ranked AS (
    SELECT e.event_type, e.event_id,
           row_number() OVER (
               PARTITION BY e.event_type
               ORDER BY md5(CAST(e.event_id AS VARCHAR)), e.event_id) AS rn
    FROM events e
)
SELECT r.event_type, r.event_id
FROM ranked r JOIN final_alloc f ON f.event_type = r.event_type
WHERE r.rn <= f.k
"""


@query("sample_stratified_neyman", oracle=_NEYMAN_ORACLE)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sample: a fixed budget of
    {b} rows split across strata proportional to N_h·σ_h — the
    textbook minimum-variance allocation (Neyman 1934), the right
    sampling design when strata differ in spread (vs sample_stratified's
    equal-rate design). Allocation integerizes by largest remainder
    (exact: Σk == budget by construction), and within each stratum the
    sample is a deterministic md5-rank top-k — reproducible on any
    partitioning, no RNG state. A stratum allocated more than its
    population truncates to take-all (the rank filter caps at N_h), so
    tiny high-variance strata shortfall the budget rather than
    oversample; the textbook iterative reallocation is a dust-sized
    driver loop, deliberately omitted.

    Scale shape: the moment pass is one partial-aggregated shuffle to
    k strata rows (σ_h from the same exact-bigint correction form as
    stats_anova_oneway); allocation math is dust; the pick is one
    per-stratum rank window over hash keys. Exactness: the per-stratum
    weight is pinned to an integer micro-grid before the cross-stratum
    sum, so wsum is an exact associative bigint sum (no float
    accumulation-order sensitivity between Spark's partial aggregation
    and DuckDB); every remaining double is a single deterministic
    per-row expression; the md5 rank is engine-portable.
    """
    ev = table(spark, sf_dir, "events")
    return neyman_sample(ev)


def neyman_sample(
    ev: DataFrame, budget: int = _NEYMAN_BUDGET
) -> DataFrame:
    """Neyman-allocation core over any (event_type, event_id, value)
    frame; see sample_stratified_neyman. Allocation closed-form-proven
    at 1.5M rows (designed per-stratum variances force the exact
    largest-remainder split) by tests/test_scale_smoke.py."""
    c = cents("value")
    # Lazy checkpoint: the k-stratum moment table feeds the weight,
    # total, and allocation branches — one moment-pass fact scan (the
    # md5-rank pick pass is the inherent second scan).
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(c).cast("long").alias("s"),
        F.sum(c * c).cast("long").alias("q"),
    ).localCheckpoint(eager=False)
    # w is pinned to an exact integer micro-grid BEFORE the cross-stratum
    # sum: SUM over doubles is accumulation-order-dependent (Spark partial
    # aggregation vs DuckDB sequential), and a ULP difference in wsum can
    # flip a floor() or the largest-remainder ordering near a boundary.
    # SUM(bigint) is exact and associative; every remaining double is a
    # single deterministic expression evaluated identically per row.
    wts = mom.select(
        "event_type",
        "nh",
        F.expr(
            "CAST(round(1000000 * nh * sqrt((CAST(q AS DOUBLE)"
            " - round(CAST(s AS DOUBLE) / nh * s)) / nh)) AS BIGINT)"
        ).alias("w_micro"),
    )
    tot = wts.agg(F.sum("w_micro").cast("long").alias("wsum"))
    alloc = wts.crossJoin(F.broadcast(tot)).select(  # bounded: 1-row global aggregate
        "event_type",
        "nh",
        F.expr(
            f"CAST(floor({budget}"
            f" * (CAST(w_micro AS DOUBLE) / wsum)) AS BIGINT)"
        ).alias("base"),
        F.expr(
            f"{budget} * (CAST(w_micro AS DOUBLE) / wsum)"
            f" - floor({budget} * (CAST(w_micro AS DOUBLE) / wsum))"
        ).alias("frac"),
    )
    short = alloc.agg(
        (F.lit(budget) - F.sum("base")).cast("long").alias("rem")
    )
    wrank = Window.orderBy(F.col("frac").desc(), "event_type")
    final_alloc = (
        alloc.crossJoin(F.broadcast(short))  # bounded: 1-row global aggregate
        .withColumn("pri", F.row_number().over(wrank))
        .select(
            "event_type",
            (
                F.col("base")
                + F.when(F.col("pri") <= F.col("rem"), 1).otherwise(0)
            ).alias("k"),
        )
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = ev.select("event_type", "event_id").withColumn(
        "rn", F.row_number().over(wpick)
    )
    return (
        ranked.join(F.broadcast(final_alloc), "event_type")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .filter(F.col("rn") <= F.col("k"))
        .select("event_type", "event_id")
    )


sample_stratified_neyman.__doc__ = sample_stratified_neyman.__doc__.format(
    b=_NEYMAN_BUDGET
)
