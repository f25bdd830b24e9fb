"""Text-analysis operator family (SURVEY.md X17 + driver mandate):
corpus statistics, token frequency, quality scoring, language-ID heuristic,
document fingerprinting.

Everything row-level stays in built-in expressions (one WholeStageCodegen
span per query); the corpus is never collected to the driver. The only
shuffles are the final aggregations on low-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions.exact import cents, norm_text
from ..registry import query

# --------------------------------------------------------------------------
# X17a — corpus statistics per (lang, source)
# --------------------------------------------------------------------------

_STATS_ORACLE = """
SELECT
    lang,
    source,
    CAST(COUNT(*) AS BIGINT)        AS n_docs,
    CAST(SUM(n_chars) AS BIGINT)    AS total_chars,
    CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
        AS total_tokens,
    CAST(MIN(n_chars) AS BIGINT)    AS min_chars,
    CAST(MAX(n_chars) AS BIGINT)    AS max_chars
FROM documents
GROUP BY lang, source
"""


@query("text_stats", oracle=_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: per-(lang, source) corpus statistics — integer aggregates,
    exact across engines. Token count via the separator-counting identity
    (tokens = spaces + 1; the corpus is single-space normalized)."""
    docs = table(spark, sf_dir, "documents")
    tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("long")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(tokens).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# X17b — token frequency (top-k words)
# --------------------------------------------------------------------------

_TOKENS_ORACLE = """
SELECT
    tok                       AS token,
    CAST(COUNT(*) AS BIGINT)  AS n_occurrences,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n_occurrences DESC, tok
LIMIT 25
"""


@query("text_tokens_top", oracle=_TOKENS_ORACLE)
def text_tokens_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: global token frequency, top-25. explode → two-level aggregate;
    partial aggregation collapses each partition's counts before the
    shuffle, so the exchange carries vocabulary-sized data, not corpus-
    sized. Tie-broken by token for a deterministic cross-engine top-k."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# X17c — per-document quality scoring
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
    FROM documents
)
SELECT
    doc_id,
    lang,
    CAST(len(toks) AS BIGINT)                       AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT)        AS n_unique_tokens,
    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
    CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS BIGINT)
                                                    AS n_stopwords,
    CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks)
                                                    AS stopword_ratio,
    CAST(n_chars - len(toks) + 1 AS DOUBLE) / len(toks) AS avg_token_len
FROM t
"""


@query("text_quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: per-document quality signals (type-token ratio, stopword
    ratio, mean token length) — the standard cheap filters in a training-
    data pipeline. Pure array expressions, fully parallel, no shuffle at
    all (narrow transformation)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tokens).alias(
            "type_token_ratio"
        ),
        n_stop.cast("long").alias("n_stopwords"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (
            (F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens
        ).alias("avg_token_len"),
    )


# --------------------------------------------------------------------------
# X17d — language-ID heuristic (marker-word voting)
# --------------------------------------------------------------------------

_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "es", "los"),
    "fr": ("le", "la", "et", "est", "les"),
}


def _langid_scores() -> tuple[dict, Column]:
    """Marker-hit columns and the deterministic argmax prediction —
    shared by text_langid (per-doc readout) and eval_langid_prf
    (precision/recall scoring against the gold label)."""
    toks = F.split("text", " ")

    def hits(lang: str) -> Column:
        arr = F.array(*[F.lit(w) for w in _MARKERS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    h = {lang: hits(lang) for lang in _MARKERS}
    predicted = (
        F.when(
            (h["en"] >= h["de"]) & (h["en"] >= h["es"]) & (h["en"] >= h["fr"]),
            F.lit("en"),
        )
        .when((h["de"] >= h["es"]) & (h["de"] >= h["fr"]), F.lit("de"))
        .when(h["es"] >= h["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return h, predicted


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


_LANGID_ORACLE = f"""
SELECT
    doc_id,
    lang AS lang_actual,
    CAST({_marker_sql('en')} AS BIGINT) AS hits_en,
    CAST({_marker_sql('de')} AS BIGINT) AS hits_de,
    CAST({_marker_sql('es')} AS BIGINT) AS hits_es,
    CAST({_marker_sql('fr')} AS BIGINT) AS hits_fr,
    CASE
        WHEN {_marker_sql('en')} >= {_marker_sql('de')}
         AND {_marker_sql('en')} >= {_marker_sql('es')}
         AND {_marker_sql('en')} >= {_marker_sql('fr')} THEN 'en'
        WHEN {_marker_sql('de')} >= {_marker_sql('es')}
         AND {_marker_sql('de')} >= {_marker_sql('fr')} THEN 'de'
        WHEN {_marker_sql('es')} >= {_marker_sql('fr')} THEN 'es'
        ELSE 'fr'
    END AS lang_predicted
FROM documents
"""


@query("text_langid", oracle=_LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: marker-word language-ID heuristic with a deterministic
    argmax tie order (en > de > es > fr). Narrow transformation — each
    document scores independently; a real model swaps in as a pandas UDF
    with the identical surrounding plan."""
    docs = table(spark, sf_dir, "documents")
    h, predicted = _langid_scores()
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        h["en"].cast("long").alias("hits_en"),
        h["de"].cast("long").alias("hits_de"),
        h["es"].cast("long").alias("hits_es"),
        h["fr"].cast("long").alias("hits_fr"),
        predicted.alias("lang_predicted"),
    )


# --------------------------------------------------------------------------
# X17e — document fingerprint (rolling polynomial hash)
# --------------------------------------------------------------------------

_FP_MOD = 2147483647  # 2^31 - 1

_FP_ORACLE = f"""
SELECT
    doc_id,
    CAST(list_reduce(
        [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')],
        (acc, x) -> (acc * 31 + x) % {_FP_MOD}
    ) AS BIGINT) AS fingerprint
FROM documents
"""


@query("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: order-sensitive rolling hash (base-31 polynomial mod 2³¹-1)
    over the character stream — a classic content fingerprint that, unlike
    md5, supports incremental/windowed computation. Pure integer folds:
    bit-identical across engines."""
    docs = table(spark, sf_dir, "documents")
    chars = F.split("text", "")
    fp = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(_FP_MOD),
    )
    return docs.select("doc_id", fp.cast("long").alias("fingerprint"))


# --------------------------------------------------------------------------
# X14+X17 composed — end-to-end corpus cleaning pipeline
# --------------------------------------------------------------------------

_CLEAN_ORACLE = f"""
WITH scored AS (
    SELECT
        doc_id, source, lang, text,
        len(string_split(text, ' ')) AS n_tokens,
        CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ({_STOP_SQL}))) AS DOUBLE)
            / len(string_split(text, ' ')) AS stop_ratio,
        md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))
            AS norm_hash
    FROM documents
),
kept AS (SELECT * FROM scored WHERE n_tokens >= 20 AND stop_ratio >= 0.01),
canon AS (
    SELECT norm_hash,
           MIN(doc_id)  AS canonical_doc,
           COUNT(*)     AS n_members
    FROM kept GROUP BY norm_hash
)
SELECT
    k.source,
    k.lang,
    CAST(COUNT(*) AS BIGINT)                 AS n_docs_kept,
    CAST(SUM(c.n_members - 1) AS BIGINT)     AS n_dups_removed,
    CAST(SUM(k.n_tokens) AS BIGINT)          AS total_tokens
FROM canon c JOIN kept k ON k.doc_id = c.canonical_doc
GROUP BY k.source, k.lang
"""


@query("pipeline_corpus_clean", oracle=_CLEAN_ORACLE)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data flagship composition: quality gate → exact
    near-dup removal (normalized content hash, keep the lowest doc_id) →
    per-(source, lang) corpus accounting. One narrow scoring pass, one
    shuffle on the 16-byte hash, one shuffle on the (source, lang) rollup
    — the whole cleaning pass is three stages regardless of corpus size.
    The same skeleton swaps the normhash stage for minhash banding
    (dedup_minhash_lsh) when fuzzy dedup is wanted.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / n_tokens
    )
    kept = docs.select(
        "doc_id",
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        F.md5(norm_text()).alias("norm_hash"),
    ).filter((F.col("n_tokens") >= 20) & (F.col("stop_ratio") >= 0.01))
    canon = kept.groupBy("norm_hash").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        canon.join(kept, canon.canonical_doc == kept.doc_id)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.col("n_members") - 1).alias("n_dups_removed"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# X17f — BPE-style subword token estimate (regex pre-tokenizer)
# --------------------------------------------------------------------------

# GPT-2-style pre-tokenizer classes, restricted to RE2-compatible syntax
# (no lookahead) so the same pattern runs in Spark (Java regex) and the
# DuckDB oracle (RE2): letter runs | digit runs | punctuation runs.
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"

_BPE_ORACLE = f"""
SELECT
    doc_id,
    CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_pieces,
    CAST(n_chars AS DOUBLE)
        / len(regexp_extract_all(text, '{_BPE_RE}'))           AS chars_per_piece,
    CAST(len(list_filter(regexp_extract_all(text, '{_BPE_RE}'),
                         p -> p ~ '^[0-9]+$')) AS BIGINT)      AS n_digit_pieces
FROM documents
WHERE doc_id % 11 = 0
"""


@query("text_bpe_token_estimate", oracle=_BPE_ORACLE)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: BPE-ish token-count estimate — the budget metric every
    LLM-corpus pipeline tracks. A GPT-2-style pre-tokenizer regex splits
    letter/digit/punctuation runs (the stage BPE merges start from);
    piece count ≈ token count upper bound, chars/piece ≈ compression
    ratio. One regexp_extract_all per document inside the scan stage —
    narrow, no shuffle."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    pieces = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    n_pieces = F.size(pieces)
    return docs.select(
        "doc_id",
        n_pieces.cast("long").alias("n_pieces"),
        (F.col("n_chars").cast("double") / n_pieces).alias("chars_per_piece"),
        F.size(
            F.filter(pieces, lambda p: p.rlike("^[0-9]+$"))
        ).cast("long").alias("n_digit_pieces"),
    )


# --------------------------------------------------------------------------
# Categorical vocabulary encoding (feature-engineering join-back)
# --------------------------------------------------------------------------

_ENCODE_ORACLE = """
WITH vocab AS (
    SELECT source,
           dense_rank() OVER (ORDER BY source) - 1 AS source_id
    FROM (SELECT DISTINCT source FROM documents)
)
SELECT d.doc_id,
       d.source,
       CAST(v.source_id AS BIGINT) AS source_id
FROM documents d
JOIN vocab v ON v.source = d.source
"""


@query("encode_categoricals", oracle=_ENCODE_ORACLE)
def encode_categoricals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic categorical encoding: build a vocabulary (distinct
    values, dense ids assigned in sort order so the mapping is
    reproducible run-to-run and engine-to-engine) and join it back — the
    label-encoding step every training pipeline runs on string features.

    Scale: the distinct-aggregate shuffles |categories| rows (map-side
    partials collapse duplicates first); the id-assignment window runs
    on the vocabulary only — categorical cardinality, not corpus size —
    and the join-back broadcasts the vocab into the scan. A 100 TB corpus
    with a 10^5-entry vocabulary never shuffles the fact table at all.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select("source")
        .distinct()
        .withColumn(
            "source_id",
            (F.dense_rank().over(Window.orderBy("source")) - 1).cast("long"),
        )
    )
    return docs.select("doc_id", "source").join(F.broadcast(vocab), "source").select(  # bounded: distinct sources (enum-sized)
        "doc_id", "source", "source_id"
    )


# --------------------------------------------------------------------------
# Smoothed target encoding (empirical-Bayes category → rate feature)
# --------------------------------------------------------------------------

_TENC_M = 50  # pseudo-observation count pulled toward the global rate

# enc = (n_pos + m·prior) / (n + m) with prior = global positive rate —
# one shared double expression on exact bigint counts, micro-pinned.
# The division by (n + m) can never degenerate (m > 0).
_TENC_EXPR = (
    f"CAST(round((CAST(n_pos AS DOUBLE)"
    f" + {_TENC_M} * (CAST(g_pos AS DOUBLE) / g_n))"
    f" / (n + {_TENC_M}) * 1000000) AS BIGINT)"
)

_TENC_ORACLE = f"""
WITH base AS (
    SELECT p.p_brand AS brand,
           CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
per_cat AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM base GROUP BY brand
),
gtot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS g_n,
           CAST(SUM(n_pos) AS BIGINT) AS g_pos
    FROM per_cat
)
SELECT brand, n, n_pos, {_TENC_EXPR} AS enc_micro
FROM per_cat CROSS JOIN gtot
ORDER BY brand
"""


@query("encode_target_smoothed", oracle=_TENC_ORACLE)
def encode_target_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (empirical-Bayes) target encoding of part brand against
    the return-flag target — the high-cardinality categorical feature
    device gradient-boosting pipelines use where one-hot explodes
    (Micci-Barreca 2001): each category's rate shrinks toward the
    global prior by m = {m} pseudo-observations, so rare brands don't
    memorize noise. Complements encode_categoricals' id assignment
    with a VALUE encoding.

    Cross-engine exactness: counts are exact bigints off one
    partial-aggregated shuffle; the encoding is a single shared double
    expression on those counts (prior folded in-expression, no
    pre-rounded intermediate), micro-pinned once. No degenerate pole —
    the smoothing mass keeps every denominator positive.

    Scale shape: fact ⋈ part on partkey (both shuffle-partitioned on
    the key; at 100 TB this is the standard co-partitioned dimension
    join), then one groupBy to category dust and a 1-row global
    broadcast. Cardinality bounds every post-shuffle stage at
    |categories|."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("int").alias("pos"),
    )
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_brand").alias("brand"),
    )
    per_cat = (
        li.join(part, "l_partkey")
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    glob = per_cat.agg(
        F.sum("n").cast("long").alias("g_n"),
        F.sum("n_pos").cast("long").alias("g_pos"),
    )
    return (
        per_cat.crossJoin(F.broadcast(glob))  # bounded: 1-row global aggregate
        .select(
            "brand",
            "n",
            "n_pos",
            F.expr(_TENC_EXPR).alias("enc_micro"),
        )
        .orderBy("brand")
    )


encode_target_smoothed.__doc__ = encode_target_smoothed.__doc__.format(
    m=_TENC_M
)


# --------------------------------------------------------------------------
# X17f — repetition ratio (Gopher-style top-bigram fraction)
# --------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bigrams AS (
    SELECT doc_id, concat(toks[i], ' ', toks[i+1]) AS bg
    FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
    WHERE len(toks) >= 2
),
counts AS (
    SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(MAX(c) AS BIGINT) AS top_bigram_count,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
FROM counts
GROUP BY doc_id
"""


@query("text_repetition", oracle=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: repetition scoring — the fraction of a document occupied by
    its single most frequent word bigram (the Gopher/C4 family's most
    selective boilerplate filter; high fraction = TOC/spam/template).

    Shape: bigrams explode from the token array, collapse map-side in the
    (doc_id, bigram) partial aggregate, then a second partial aggregate
    reduces to one row per doc — both shuffles are keyed on doc_id(+gram)
    so the corpus text itself crosses the wire once as fixed-width
    hashes-of-strings, and per-doc state is bounded by the distinct-
    bigram count of one document, never the corpus vocabulary.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    # zip_with over two slices, not transform(sequence)+element_at: the
    # latter re-evaluates the inlined token array per element after
    # projection collapse (see text_bigrams_top — measured ~5×).
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"),
    )


# --------------------------------------------------------------------------
# X17g — TF-IDF top terms per document
# --------------------------------------------------------------------------

_TFIDF_TOP_K = 5

_TFIDF_ORACLE = f"""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
           CAST(df.df AS BIGINT) AS df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
    FROM scored
)
WHERE rn <= {_TFIDF_TOP_K}
"""


@query("text_tfidf", oracle=_TFIDF_ORACLE)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: top-{_TFIDF_TOP_K} TF-IDF terms per document — the classic
    keyword extraction / relevance-weighting step.

    Shape: one explode → (doc, term) partial-agg shuffle for tf; the
    document frequency is a second aggregate over the SAME (term-keyed)
    rows; the corpus size broadcasts as a 1-row literal join. Scores are
    rounded to 6 dp BEFORE the per-doc ranking (same determinism pattern
    as the cosine rankings: ln() may differ in the last ulp across
    engines, the rounded rank key cannot).
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    # Corpus size as an IN-PLAN 1-row broadcast, not a driver-side
    # .count() action: declaring it keeps query construction lazy and
    # lets Catalyst serve the count from parquet row-group metadata.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df, "term").join(F.broadcast(n)).select(  # bounded: 1-row global aggregate
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


# --------------------------------------------------------------------------
# X17/training-data — sliding-window document chunking
# --------------------------------------------------------------------------

_CHUNK_WINDOW = 64  # tokens per chunk (context-window budget)
_CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = 16)

_CHUNK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           t[s : least(s + {_CHUNK_WINDOW} - 1, len(t))] AS piece
    FROM toks, unnest(generate_series(1, len(t), {_CHUNK_STRIDE})) AS g(s)
)
SELECT doc_id, chunk_idx,
       CAST(len(piece) AS INT)          AS n_tokens,
       array_to_string(piece, ' ')      AS chunk_text
FROM chunks
"""


@query("chunk_sliding_windows", oracle=_CHUNK_ORACLE)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep: split every document into overlapping
    fixed-token-budget chunks (window 64, stride 48) — the step that
    turns a raw corpus into model-ingestible sequences while keeping
    boundary context via the overlap.

    Pure narrow plan: tokenize → in-row start-offset sequence → explode →
    slice. No shuffle at all — every chunk derives from its own row, so
    the operator scales linearly with corpus bytes and parallelizes per
    input split. Chunk counts are data-dependent (ceil(len/stride)), and
    the trailing chunk is short rather than padded, exactly like the
    oracle's inclusive list slice."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    exploded = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    piece = F.slice(
        "t",
        F.col("s"),
        F.least(F.lit(_CHUNK_WINDOW), F.size("t") - F.col("s") + 1),
    )
    return exploded.select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# X17/training-data — corpus bigram statistics (n-gram LM counts)
# --------------------------------------------------------------------------

_BIGRAM_TOP_K = 15

_BIGRAM_ORACLE = f"""
WITH toks AS (
    SELECT lang, string_split(text, ' ') AS t FROM documents
),
b AS (
    SELECT lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS bigram
    FROM toks
),
c AS (
    SELECT lang, bigram, COUNT(*) AS cnt FROM b GROUP BY lang, bigram
),
r AS (
    SELECT lang, bigram, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
    FROM c
)
SELECT lang, bigram, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= {_BIGRAM_TOP_K}
"""


@query("text_bigrams_top", oracle=_BIGRAM_ORACLE)
def text_bigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency, top-15 per language — the n-gram count
    table feeding n-gram LMs, contamination screens, and collocation
    quality filters.

    Bigram formation is NARROW: each row zips its own token array with
    itself shifted by one (zip_with over two slices) — no window over
    token position, no shuffle until the count. The plan is scan →
    in-row zip → explode → partial-agg → one shuffle on (lang, bigram)
    → per-lang top-k; at 100 TB the exploded stream never materializes,
    and map-side partial aggregation collapses repeated bigrams before
    the exchange. (A transform(sequence)+element_at formulation computes
    the same thing ~5× slower: each element_at re-evaluates its array
    argument, turning the expansion quadratic in tokens.)
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.split("text", " ").alias("t"))
    bigrams = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    counts = (
        toks.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BIGRAM_TOP_K)
        .select("lang", "bigram", "cnt", "rank")
    )


# --------------------------------------------------------------------------
# End-to-end training-data yield: gate → canonical dedup → chunk budget
# --------------------------------------------------------------------------

_YIELD_ORACLE = f"""
WITH scored AS (
    SELECT
        doc_id, source, lang,
        len(string_split(text, ' ')) AS n_tokens,
        CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ({_STOP_SQL}))) AS DOUBLE)
            / len(string_split(text, ' ')) AS stop_ratio,
        md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))
            AS norm_hash
    FROM documents
),
kept AS (SELECT * FROM scored WHERE n_tokens >= 20 AND stop_ratio >= 0.01),
canon AS (
    SELECT norm_hash, MIN(doc_id) AS canonical_doc
    FROM kept GROUP BY norm_hash
),
survivors AS (
    SELECT k.* FROM canon c JOIN kept k ON k.doc_id = c.canonical_doc
),
chunked AS (
    SELECT source, lang, n_tokens,
           len(generate_series(1, n_tokens, {_CHUNK_STRIDE})) AS n_chunks,
           list_sum(list_transform(generate_series(1, n_tokens, {_CHUNK_STRIDE}),
                    s -> least({_CHUNK_WINDOW}, n_tokens - s + 1)))
               AS chunk_tokens
    FROM survivors
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT)            AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT)       AS raw_tokens,
       CAST(SUM(n_chunks) AS BIGINT)       AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT)   AS chunk_tokens
FROM chunked GROUP BY source, lang
"""


@query("pipeline_chunk_yield", oracle=_YIELD_ORACLE)
def pipeline_chunk_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus→training-sequences yield report in ONE declarative
    plan: quality gate (length + stopword ratio) → canonical dedup
    (normalized content hash, keep lowest doc_id) → sliding-window chunk
    budget (window {w}, stride {s}) → per-(source, lang) accounting of
    documents, raw tokens, chunk counts, and post-overlap chunk tokens —
    the number a training run actually budgets against.

    The chunk stage NEVER materializes chunks: counts and token totals
    come from a per-row aggregate() over the start-offset sequence
    (closed-form yield), so the added stage is narrow and the whole
    pipeline still costs one scoring scan + one hash shuffle + one
    rollup shuffle at any corpus size.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / n_tokens
    )
    kept = docs.select(
        "doc_id",
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        F.md5(norm_text()).alias("norm_hash"),
    ).filter((F.col("n_tokens") >= 20) & (F.col("stop_ratio") >= 0.01))
    canon = kept.groupBy("norm_hash").agg(F.min("doc_id").alias("canonical_doc"))
    survivors = canon.join(kept, canon.canonical_doc == kept.doc_id)
    starts = F.sequence(F.lit(1), F.col("n_tokens"), F.lit(_CHUNK_STRIDE))
    chunked = survivors.select(
        "source",
        "lang",
        "n_tokens",
        F.size(starts).alias("n_chunks"),
        F.aggregate(
            starts,
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.least(F.lit(_CHUNK_WINDOW), F.col("n_tokens") - s + 1),
        ).alias("chunk_tokens"),
    )
    return chunked.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("raw_tokens"),
        F.sum("n_chunks").alias("n_chunks"),
        F.sum("chunk_tokens").alias("chunk_tokens"),
    )


pipeline_chunk_yield.__doc__ = pipeline_chunk_yield.__doc__.format(
    w=_CHUNK_WINDOW, s=_CHUNK_STRIDE
)


# --------------------------------------------------------------------------
# PII redaction — the scrub pass every training-data pipeline runs before
# anything else sees the text. Deterministic PII is INJECTED first (the
# synthetic corpus contains none), so the redaction is provably exercised
# and the oracle can rebuild the exact same input.
# --------------------------------------------------------------------------

# Dialect-portable patterns: RE2 (DuckDB) ∩ java.util.regex (Spark) —
# character classes, bounded repetition and \b only; no lookaround, no
# backreferences, so both engines compile the same automaton.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"

_PII_ORACLE = f"""
WITH injected AS (
    SELECT doc_id,
           concat(text, ' contact user', doc_id, '@example.com from 10.',
                  doc_id % 256, '.0.1 tel 555-', 1000 + doc_id % 9000,
                  ' end') AS raw
    FROM documents WHERE doc_id % 7 = 0
),
red AS (
    SELECT doc_id, raw,
           regexp_replace(
               regexp_replace(
                   regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM injected
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PII_IPV4}'))  AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(length(raw) - length(redacted) AS BIGINT) AS chars_removed,
       sha256(redacted) AS redacted_sha
FROM red
"""


@query("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails, IPv4s, and phone-shaped digit runs are
    replaced by typed placeholders, with per-document counts of each
    class and a hash of the redacted text (the byte-exact proof the two
    engines redacted identically).

    The corpus is synthetic and PII-free, so a deterministic
    email/IP/phone triple is appended per selected document FIRST —
    redaction over text that provably contains PII, never a vacuous
    no-op pass. Patterns stay in the RE2 ∩ Java regex dialect overlap
    so Spark and DuckDB compile identical automata.

    Scale shape: pure narrow projection — regexp_replace chains run
    inside whole-stage codegen, no shuffle, no UDF; the scan prunes to
    (doc_id, text). At 100 TB this is the embarrassingly parallel pass
    it should be."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 tel 555-"),
        (1000 + F.col("doc_id") % 9000).cast("string"),
        F.lit(" end"),
    )
    with_raw = docs.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return with_raw.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        (F.length("raw") - F.length(redacted)).cast("long").alias("chars_removed"),
        F.sha2(F.encode(redacted, "UTF-8"), 256).alias("redacted_sha"),
    )


# --------------------------------------------------------------------------
# Unigram-LM perplexity proxy — CCNet-style quality scoring
# --------------------------------------------------------------------------

_PPLX_ORACLE = """
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS n_tokens FROM t),
tok AS (
    SELECT t.doc_id,
           CAST(round(ln(CAST(n.n_tokens AS DOUBLE) / v.cnt) * 1000000)
                AS BIGINT) AS nll_units
    FROM t JOIN vocab v USING (term) CROSS JOIN n
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)    AS n_tokens,
       CAST(SUM(nll_units) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_nll,
       CAST(SUM(nll_units) // (COUNT(*) * 1000000) AS BIGINT) AS nll_bucket
FROM tok GROUP BY doc_id
"""


@query("text_perplexity_proxy", oracle=_PPLX_ORACLE)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document — the CCNet-style quality
    score used to rank web text before training (low mean negative
    log-likelihood ≈ head-like text, high ≈ tail/garbage). The "language
    model" is the corpus's own unigram distribution: nll(w) =
    ln(N / count(w)).

    Cross-engine exactness: each token's nll is rounded to integer
    micro-nats BEFORE the per-document sum (ln may differ in the last
    ulp across engines; a rounded integer cannot), so the reduction is
    an order-insensitive integer sum and mean_nll derives from one IEEE
    division of two exact integers — the same determinism device as the
    scaled-cents aggregates.

    Scale shape: one explode → (term) partial-agg shuffle builds the
    vocabulary (vocabulary-scaled, so the join is UNhinted — AQE
    broadcasts it while it fits and shuffle-joins past that);
    token rows join it and collapse map-side onto doc_id. The corpus
    token count is a 1-row broadcast. At 100 TB: two fact-sized
    shuffles (vocab build, per-doc agg), no sort, no window.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    n = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    scored = (
        # vocab is corpus-vocabulary-scaled — unhinted (round 11): AQE
        # broadcasts it while small; a 100 TB corpus's 10⁸-term vocab
        # shuffle-joins instead of OOMing the driver.
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(n))  # bounded: 1-row corpus token count
        .select(
            "doc_id",
            cents(F.log(F.col("n_tokens").cast("double") / F.col("cnt")), 6)
            .alias("nll_units"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (
            F.sum("nll_units").cast("double") / F.count(F.lit(1)) / 1_000_000.0
        ).alias("mean_nll"),
        F.expr("sum(nll_units) DIV (count(1) * 1000000)")
        .cast("long")
        .alias("nll_bucket"),
    )


# --------------------------------------------------------------------------
# Bigram-LM quality score — context-aware sibling of the unigram proxy
# --------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
    FROM docs, unnest(generate_series(1, len(t) - 1)) u(i)
    WHERE len(t) >= 2
),
bc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
uc AS (SELECT w1, SUM(c) AS c1 FROM bc GROUP BY 1),
v AS (
    SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
),
tok AS (
    SELECT bg.doc_id,
           CAST(round(ln(CAST(uc.c1 + v.v AS DOUBLE) / (bc.c + 1)) * 1000000)
                AS BIGINT) AS nll_units
    FROM bg
    JOIN bc ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
    JOIN uc ON uc.w1 = bg.w1
    CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll_units) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_nll
FROM tok GROUP BY doc_id
"""


@query("text_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score per document — the context-aware upgrade
    of text_perplexity_proxy: nll(w₂|w₁) = ln((c(w₁·)+V)/(c(w₁w₂)+1)),
    i.e. add-one-smoothed bigram conditionals from the corpus's own
    counts. Repetitive/templated text scores low (predictable
    continuations), token salad scores high — a sharper training-data
    filter than unigram frequency alone.

    Scale shape: bigrams form IN-ROW (zip_with over two slices — the
    text_bigrams_top idiom) so the only fact-sized shuffles are the
    bigram-count build and the per-doc rollup; the w₁ continuation
    totals derive from the ALREADY-AGGREGATED bigram table (dust), and
    the vocabulary size is a 1-row broadcast. Exactness: per-bigram nll
    rounds to integer micro-nats BEFORE the per-doc sum (the
    perplexity discipline), so ln's last-ulp freedom never reaches the
    hashed cells.
    """
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n1 = F.size("t") - 1
    pairs = F.zip_with(
        F.slice("t", 1, n1),
        F.slice("t", 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        toks.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uc = bc.groupBy("w1").agg(F.sum("c").alias("c1"))
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    # Score per DISTINCT bigram first (bc ⋈ uc ⋈ v is all
    # vocabulary-dust), then attach to the fact-sized bigram stream
    # with ONE join: the previous shape probed the fact stream through
    # two joins (bc, then uc) and evaluated ln() once per bigram
    # OCCURRENCE instead of once per distinct bigram (guide §2.3
    # "aggregate before you shuffle" applied to the lookup side; r13,
    # same-window min-of-5: 1.71 -> 1.56 s at sf0.1, 5.25 -> 4.38 s at
    # the 10x fixture). bc/uc stay unhinted: AQE broadcasts the scored
    # dust while small and shuffle-joins a 100 TB corpus's billion-row
    # bigram table instead of OOMing the driver (round 11; the
    # graph-kernel rule).
    nll_tab = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(v))  # bounded: 1-row global count_distinct
        .select(
            "w1",
            "w2",
            cents(
                F.log((F.col("c1") + F.col("v")).cast("double") / (F.col("c") + 1)),
                6,
            )
            .alias("nll_units"),
        )
    )
    scored = bg.join(nll_tab, ["w1", "w2"]).select("doc_id", "nll_units")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("nll_units").cast("double") / F.count(F.lit(1)) / 1_000_000.0)
        .alias("mean_nll"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV rate — tokenizer diagnostics per source
# --------------------------------------------------------------------------

_VOCAB_TOPK = 100

_OOV_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
        ORDER BY c DESC, tok LIMIT {_VOCAB_TOPK}
    )
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       CAST(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS DOUBLE) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.source
ORDER BY t.source
"""


@query("text_oov_rate", oracle=_OOV_ORACLE)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage diagnostics: with a fixed top-{k} corpus
    vocabulary (frequency-ranked, deterministic tie-break), the
    out-of-vocabulary token rate per source — the number a tokenizer
    owner watches to size the vocabulary and spot sources the
    vocabulary underserves.

    Scale shape: the vocabulary is a TakeOrdered top-{k} over one
    token aggregation, then a broadcast left join tags every token
    occurrence (vocab is dimension-sized by construction, so the tag
    join never shuffles the token stream); per-source accounting folds
    map-side. The OOV rate is one IEEE division of exact counts.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_TOPK)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "tok", "left")  # bounded: top-K-limited vocab (_VOCAB_TOPK)
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_covered"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
            (
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).cast("double").alias("oov_rate"),
        )
        .orderBy("source")
    )


text_oov_rate.__doc__ = text_oov_rate.__doc__.format(k=_VOCAB_TOPK)


# --------------------------------------------------------------------------
# Model-scored quality filtering (fasttext-classifier-shaped pass)
# --------------------------------------------------------------------------

# Fixed logistic weights: intercept, tokens/100, type-token ratio,
# mean-word-length/10. Stand-ins for trained classifier weights — the
# POINT is the scoring/threshold plumbing, which is identical for any
# linear model over in-row features.
_QM_W = (-1.5, 0.8, 2.0, 1.1)
_QM_THRESHOLD = 0.55

_QM_ORACLE = f"""
WITH feats AS (
    SELECT source,
           len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           length(text) - (len(string_split(text, ' ')) - 1) AS word_chars
    FROM documents
),
scored AS (
    SELECT source,
           CAST(round(
               1.0 / (1.0 + exp(-({_QM_W[0]}
                   + {_QM_W[1]} * (CAST(n_tok AS DOUBLE) / 100)
                   + {_QM_W[2]} * (CAST(n_uniq AS DOUBLE) / n_tok)
                   + {_QM_W[3]} * (CAST(word_chars AS DOUBLE) / n_tok / 10))))
               * 1000000) AS BIGINT) AS score_micro
    FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score_micro > {_QM_THRESHOLD} * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*) / 1000000.0
            AS DOUBLE) AS mean_score
FROM scored
GROUP BY source
ORDER BY source
"""


@query("text_quality_model", oracle=_QM_ORACLE)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filtering — the classifier-based pass
    (fasttext-style) that sits above text_quality's raw heuristics in a
    real curation stack: in-row features (token count, type-token
    ratio, mean word length) feed a fixed-weight logistic score, docs
    pass a keep threshold, and per-source keep counts plus mean score
    come back. Swapping in trained weights changes nothing structural.

    Scale shape: a zero-shuffle narrow feature+score chain (every
    feature is in-row expression work — even distinct tokens via
    array_distinct, no explode), then one partial-aggregated shuffle
    to per-source rows. Exactness: per-doc scores round to micro-units
    BEFORE any aggregation (sigmoid's exp is IEEE-identical on
    shape-identical inputs), so keep flags and mean scores hash-match.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    word_chars = F.length("text") - (n_tok - 1)
    z = (
        F.lit(_QM_W[0])
        + _QM_W[1] * (n_tok.cast("double") / 100)
        + _QM_W[2] * (n_uniq.cast("double") / n_tok)
        + _QM_W[3] * (word_chars.cast("double") / n_tok / 10)
    )
    score_micro = cents(1.0 / (1.0 + F.exp(-z)), 6)
    return (
        docs.select("source", score_micro.alias("score_micro"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("score_micro") > _QM_THRESHOLD * 1_000_000).cast(
                    "long"
                )
            ).alias("n_keep"),
            (
                F.sum("score_micro").cast("double")
                / F.count(F.lit(1))
                / 1_000_000.0
            )
            .cast("double")
            .alias("mean_score"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Zipf-law fit — does the corpus frequency distribution look natural?
# --------------------------------------------------------------------------

_ZIPF_TOP_R = 100

_ZIPF_ORACLE = f"""
WITH counts AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY 1
),
ranked AS (
    SELECT cnt,
           row_number() OVER (ORDER BY cnt DESC, tok) AS rank
    FROM counts
),
pts AS (
    SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
           CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
    FROM ranked WHERE rank <= {_ZIPF_TOP_R}
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pts
)
SELECT n AS n_points,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
           AS zipf_slope,
       round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy
                                     - CAST(sx AS DOUBLE) * sy)
                                    / (CAST(n AS DOUBLE) * sxx
                                       - CAST(sx AS DOUBLE) * sx)) * sx)
             / n / 1000000.0, 6) AS ln_c,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           AS r2
FROM mom
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token frequency distribution: the
    log-log regression of frequency on rank for the top {r} ranks.
    Natural language sits near slope −1; synthetic or boilerplate-heavy
    corpora flatten toward 0 — a one-row corpus-health diagnostic data
    curation runs beside the quality scores (and which correctly reads
    "synthetic" on this near-uniform test vocabulary).

    Exactness: ln(rank) and ln(count) round to integer micro-nats at
    birth, the regression co-moments are exact bigint sums of those
    integers, and slope/intercept/r² assemble with fixed-shape IEEE
    arithmetic rounded at 6 dp — the ab_cuped/agg_regression
    discipline.

    Scale shape: ONE map-side-combined shuffle builds the vocabulary
    counts; the rank window runs over the vocabulary (dimension-sized,
    documented segmented form at extreme vocab), and the fit consumes
    {r} points. The corpus is scanned once.
    """
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = counts.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("tok")))
        .alias("rank"),
    ).filter(F.col("rank") <= _ZIPF_TOP_R)
    pts = ranked.select(
        cents(F.log(F.col("rank").cast("double")), 6)
        .alias("x"),
        cents(F.log(F.col("cnt").cast("double")), 6)
        .alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    slope = cov_n / varx_n
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).cast("double").alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / 1_000_000.0,
            6,
        )
        .cast("double")
        .alias("ln_c"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6)
        .cast("double")
        .alias("r2"),
    )


text_zipf_fit.__doc__ = text_zipf_fit.__doc__.format(r=_ZIPF_TOP_R)


# --------------------------------------------------------------------------
# X17 eval — precision/recall/F1 of the language-ID heuristic vs gold
# --------------------------------------------------------------------------

# One shared metric-arithmetic expression per metric (exact bigint
# inputs, single round) so Spark and DuckDB emit identical micro-units.
_PRF_P = (
    "CASE WHEN tp + fp = 0 THEN NULL "
    "ELSE CAST(round(tp * 1000000.0 / (tp + fp)) AS BIGINT) END"
)
_PRF_R = (
    "CASE WHEN tp + fn = 0 THEN NULL "
    "ELSE CAST(round(tp * 1000000.0 / (tp + fn)) AS BIGINT) END"
)
_PRF_F1 = (
    "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL "
    "ELSE CAST(round(2 * tp * 1000000.0 / (2 * tp + fp + fn)) AS BIGINT) END"
)

_EVAL_PRF_ORACLE = f"""
WITH pred AS (
    SELECT lang AS actual,
           CASE
               WHEN {_marker_sql('en')} >= {_marker_sql('de')}
                AND {_marker_sql('en')} >= {_marker_sql('es')}
                AND {_marker_sql('en')} >= {_marker_sql('fr')} THEN 'en'
               WHEN {_marker_sql('de')} >= {_marker_sql('es')}
                AND {_marker_sql('de')} >= {_marker_sql('fr')} THEN 'de'
               WHEN {_marker_sql('es')} >= {_marker_sql('fr')} THEN 'es'
               ELSE 'fr'
           END AS predicted
    FROM documents
),
classes AS (SELECT * FROM (VALUES ('en'), ('de'), ('es'), ('fr')) t(lang)),
counts AS (
    SELECT c.lang,
           CAST(SUM(CASE WHEN p.actual = c.lang AND p.predicted = c.lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN p.actual <> c.lang AND p.predicted = c.lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN p.actual = c.lang AND p.predicted <> c.lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn
    FROM classes c CROSS JOIN pred p
    GROUP BY c.lang
)
SELECT lang, tp, fp, fn,
       {_PRF_P} AS precision_micro,
       {_PRF_R} AS recall_micro,
       {_PRF_F1} AS f1_micro
FROM counts
ORDER BY lang
"""


@query("eval_langid_prf", oracle=_EVAL_PRF_ORACLE)
def eval_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION in-engine: per-class precision / recall /
    F1 of the language-ID heuristic against the gold ``lang`` label —
    the eval half every model-in-the-pipeline needs next to its
    predictions (text_langid shares the exact scorer via
    _langid_scores, so this measures the deployed predictor, not a
    reimplementation). TP/FP/FN are exact bigints; each metric is one
    shared arithmetic expression micro-rounded once, NULL when its
    denominator is empty (no engine-specific 0/0 behavior).

    Scale shape: predictions are a narrow per-row derivation; ONE
    partial-aggregated shuffle reduces the corpus to the ≤(classes²)
    confusion table, and every metric derives from that dust — the
    oracle's classes×corpus cross join is the naive replay, not the
    plan. At 100 TB this is the same single confusion-matrix reduction.
    """
    docs = table(spark, sf_dir, "documents")
    _h, predicted = _langid_scores()
    pred = docs.select(
        F.col("lang").alias("actual"), predicted.alias("predicted")
    )
    conf = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    classes = spark.createDataFrame(
        [(lang,) for lang in _MARKERS], "lang string"
    )
    tp = conf.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("lang"), F.col("n").alias("tp")
    )
    fp = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("predicted").alias("lang"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("actual").alias("lang"))
        .agg(F.sum("n").alias("fn"))
    )
    counts = (
        classes.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .join(fn, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    return counts.select(
        "lang",
        "tp",
        "fp",
        "fn",
        F.expr(_PRF_P).alias("precision_micro"),
        F.expr(_PRF_R).alias("recall_micro"),
        F.expr(_PRF_F1).alias("f1_micro"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Model calibration: reliability bins for the deployed quality scorer
# --------------------------------------------------------------------------

_CAL_SCORE_SQL = f"""
    CAST(round(
        1.0 / (1.0 + exp(-({_QM_W[0]}
            + {_QM_W[1]} * (CAST(n_tok AS DOUBLE) / 100)
            + {_QM_W[2]} * (CAST(n_uniq AS DOUBLE) / n_tok)
            + {_QM_W[3]} * (CAST(word_chars AS DOUBLE) / n_tok / 10))))
        * 1000000) AS BIGINT)"""

_CAL_ORACLE = f"""
WITH feats AS (
    SELECT len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           length(text) - (len(string_split(text, ' ')) - 1) AS word_chars
    FROM documents
),
scored AS (
    SELECT {_CAL_SCORE_SQL} AS score_micro,
           CASE WHEN n_uniq * 10 >= 7 * n_tok THEN 1 ELSE 0 END AS y
    FROM feats
),
binned AS (
    SELECT CAST(least(9, score_micro // 100000) AS BIGINT) AS bin,
           score_micro, y
    FROM scored
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(round(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS mean_pred_micro,
       CAST(round(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT)
           AS pos_rate_micro,
       CAST(round(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
           - CAST(round(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000)
                  AS BIGINT) AS gap_micro
FROM binned
GROUP BY bin
ORDER BY bin
"""


@query("eval_model_calibration", oracle=_CAL_ORACLE)
def eval_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the deployed quality scorer
    (text_quality_model's fixed-weight logistic): scores binned into
    deciles, each bin reporting mean predicted probability vs the
    empirical positive rate against an integer-exact reference label
    (type-token ratio ≥ 0.7, evaluated as n_uniq·10 ≥ 7·n_tok — no
    float threshold), plus the signed calibration gap. The eval every
    model-scored filter needs before its keep-threshold means anything;
    ECE is one weighted average of |gap| away.

    Scale shape: scoring is the same zero-shuffle narrow chain as
    text_quality_model; the ONLY exchange is the 10-key bin rollup with
    map-side combine. Exactness: per-doc scores micro-pinned at birth,
    bin sums exact bigints, the two per-bin ratios one deterministic
    double division each.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    word_chars = F.length("text") - (n_tok - 1)
    z = (
        F.lit(_QM_W[0])
        + _QM_W[1] * (n_tok.cast("double") / 100)
        + _QM_W[2] * (n_uniq.cast("double") / n_tok)
        + _QM_W[3] * (word_chars.cast("double") / n_tok / 10)
    )
    score_micro = cents(1.0 / (1.0 + F.exp(-z)), 6)
    y = F.when(n_uniq * 10 >= 7 * n_tok, 1).otherwise(0)
    scored = docs.select(
        score_micro.alias("score_micro"), y.alias("y")
    ).select(
        F.least(F.lit(9), F.expr("score_micro DIV 100000"))
        .cast("long")
        .alias("bin"),
        "score_micro",
        "y",
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(
                "CAST(round(CAST(SUM(score_micro) AS DOUBLE) / COUNT(*))"
                " AS BIGINT)"
            ).alias("mean_pred_micro"),
            F.expr(
                "CAST(round(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000)"
                " AS BIGINT)"
            ).alias("pos_rate_micro"),
            (
                F.expr(
                    "CAST(round(CAST(SUM(score_micro) AS DOUBLE)"
                    " / COUNT(*)) AS BIGINT)"
                )
                - F.expr(
                    "CAST(round(CAST(SUM(y) AS DOUBLE) / COUNT(*)"
                    " * 1000000) AS BIGINT)"
                )
            ).alias("gap_micro"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Model AUC: rank-sum ROC area for the quality scorer, per source
# --------------------------------------------------------------------------

_AUC_ORACLE = f"""
WITH feats AS (
    SELECT source,
           len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           length(text) - (len(string_split(text, ' ')) - 1) AS word_chars
    FROM documents
),
scored AS (
    SELECT source AS grp,
           {_CAL_SCORE_SQL} AS cents,
           CASE WHEN n_uniq * 10 >= 7 * n_tok THEN 0 ELSE 1 END AS arm
    FROM feats
),
g AS (
    SELECT grp, cents,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM scored GROUP BY 1, 2
),
p AS (
    SELECT grp, n_a, n_b,
           COALESCE(SUM(n_b) OVER (
               PARTITION BY grp ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS cum_b
    FROM g
),
agg AS (
    SELECT grp,
           CAST(SUM(n_a) AS BIGINT) AS n_pos,
           CAST(SUM(n_b) AS BIGINT) AS n_neg,
           CAST(SUM(2 * n_a * cum_b + n_a * n_b) AS BIGINT) AS u2
    FROM p GROUP BY grp
)
SELECT grp AS source, n_pos, n_neg,
       CAST(round(u2 * 1000000.0 / (2.0 * n_pos * n_neg)) AS BIGINT)
           AS auc_micro
FROM agg
WHERE n_pos > 0 AND n_neg > 0
ORDER BY source
"""


@query("eval_model_auc", oracle=_AUC_ORACLE)
def eval_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the deployed quality scorer per source, against the
    same integer-exact TTR label as eval_model_calibration — the
    threshold-free ranking-quality companion to the reliability bins
    (calibration says "are the probabilities honest", AUC says "does
    the score order positives above negatives at all").

    AUC IS a rank statistic: it equals Mann–Whitney U / (P·N) with
    half-credit ties, so this query routes the scored documents through
    the SAME exact-integer segmented-prefix-sum kernel as
    ab_mann_whitney (arm 0 = positives; u2 = 2U counts pos-beats-neg
    pairs twice + ties once) and projects auc_micro = u2/(2·P·N) — one
    deterministic double division on exact bigints, no global sort
    anywhere, sources with a degenerate class dropped by an integer
    guard. The oracle replays it with the naive full-partition window,
    proving the segmented decomposition once more on a second signal.
    """
    from .stats import mw_statistic  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    word_chars = F.length("text") - (n_tok - 1)
    z = (
        F.lit(_QM_W[0])
        + _QM_W[1] * (n_tok.cast("double") / 100)
        + _QM_W[2] * (n_uniq.cast("double") / n_tok)
        + _QM_W[3] * (word_chars.cast("double") / n_tok / 10)
    )
    score_micro = cents(1.0 / (1.0 + F.exp(-z)), 6)
    base = docs.select(
        F.col("source").alias("grp"),
        score_micro.alias("cents"),
        F.when(n_uniq * 10 >= 7 * n_tok, 0).otherwise(1).alias("arm"),
    )
    mw = mw_statistic(base)
    return (
        mw.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            F.col("grp").alias("source"),
            F.col("na").alias("n_pos"),
            F.col("nb").alias("n_neg"),
            F.expr(
                "CAST(round(u2 * 1000000.0 / (2.0 * na * nb)) AS BIGINT)"
            ).alias("auc_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Model Brier score: mean squared probability error for the scorer
# --------------------------------------------------------------------------

_BRIER_ORACLE = f"""
WITH feats AS (
    SELECT source,
           len(string_split(text, ' ')) AS n_tok,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           length(text) - (len(string_split(text, ' ')) - 1) AS word_chars
    FROM documents
),
scored AS (
    SELECT source,
           {_CAL_SCORE_SQL} AS score_micro,
           CASE WHEN n_uniq * 10 >= 7 * n_tok THEN 1 ELSE 0 END AS y
    FROM feats
),
err AS (
    SELECT source, y,
           (score_micro - 1000000 * y) * (score_micro - 1000000 * y) AS e
    FROM scored
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(round(CAST(SUM(e) AS DOUBLE) / COUNT(*) / 1000000.0)
            AS BIGINT) AS brier_micro
FROM err
GROUP BY source
ORDER BY source
"""


@query("eval_model_brier", oracle=_BRIER_ORACLE)
def eval_model_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score per source for the deployed quality scorer — the
    strictly proper scoring rule that completes the eval triad:
    calibration bins show WHERE the scorer drifts, AUC shows whether it
    RANKS, Brier = mean (p̂ − y)² penalizes both at once (and, unlike
    AUC, punishes a well-ranked but mis-scaled scorer). Same
    integer-exact TTR reference label as the siblings.

    Exactness: per-doc squared error (score_micro − 1e6·y)² is an exact
    integer ≤ 1e12; the per-source sum runs in DECIMAL(38,0) (r12 —
    VERDICT item 3: an int64 sum wrapped silently past ~9.2e6
    docs/source while DuckDB's HUGEINT promotion kept going, a
    documented-but-unguarded divergence; decimal matches HUGEINT
    exactly to 1e38, i.e. any corpus), and the mean is one
    deterministic double division, micro-pinned. Scale shape: the same
    zero-shuffle scoring chain as text_quality_model, then one
    partial-aggregated rollup on the source key (the 16-byte decimal
    accumulator still partial-aggregates map-side).
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    word_chars = F.length("text") - (n_tok - 1)
    z = (
        F.lit(_QM_W[0])
        + _QM_W[1] * (n_tok.cast("double") / 100)
        + _QM_W[2] * (n_uniq.cast("double") / n_tok)
        + _QM_W[3] * (word_chars.cast("double") / n_tok / 10)
    )
    score_micro = cents(1.0 / (1.0 + F.exp(-z)), 6)
    y = F.when(n_uniq * 10 >= 7 * n_tok, 1).otherwise(0).cast("long")
    e = (score_micro - 1_000_000 * y) * (score_micro - 1_000_000 * y)
    return (
        docs.select("source", y.alias("y"), e.alias("e"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr(
                "CAST(round(CAST(SUM(CAST(e AS DECIMAL(38,0))) AS DOUBLE)"
                " / COUNT(*) / 1000000.0) AS BIGINT)"
            ).alias("brier_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction — stopword-delimited phrases, degree/freq scores
# --------------------------------------------------------------------------

_RAKE_TOP = 20


_RAKE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, i AS pos, toks[i] AS tok,
           CASE WHEN toks[i] IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
         unnest(generate_series(1, len(toks))) AS t(i)
),
marked AS (
    SELECT doc_id, pos, tok, is_stop,
           SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS phrase_id
    FROM toks
),
cand AS (
    SELECT doc_id, phrase_id, pos, tok FROM marked WHERE is_stop = 0
),
plen AS (
    SELECT doc_id, phrase_id, pos, tok,
           COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
    FROM cand
),
words AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM plen GROUP BY tok
),
wscore AS (
    SELECT tok, CAST((1000000 * deg) // freq AS BIGINT) AS score_micro
    FROM words
),
phr AS (
    SELECT c.doc_id, c.phrase_id,
           string_agg(c.tok, ' ' ORDER BY c.pos) AS phrase,
           CAST(SUM(w.score_micro) AS BIGINT) AS score_micro
    FROM cand c JOIN wscore w ON w.tok = c.tok
    GROUP BY c.doc_id, c.phrase_id
)
SELECT phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score_micro) AS BIGINT) AS score_micro
FROM phr
GROUP BY phrase
ORDER BY score_micro DESC, phrase
LIMIT {_RAKE_TOP}
"""


@query("text_keyword_rake", oracle=_RAKE_ORACLE)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    each document into candidate phrases at stopwords, score every
    content word by co-occurrence degree / frequency (deg(w) = Σ length
    of each phrase w occurs in, freq(w) = occurrence count), and rank
    candidate phrases by the sum of their member-word scores — the
    unsupervised keyword baseline every document-understanding pipeline
    starts from (the stoplist is the {ns}-word corpus list shared with
    text_quality).

    Cross-engine exactness: phrase segmentation is a running stopword
    count (window cumsum per document — pure integers), word scores are
    (1e6·deg) DIV freq (truncating, defined semantics), and a phrase's
    score depends only on its token multiset, so identical phrase texts
    agree everywhere and MAX over instances is exact; top-{k} ties
    break on the phrase text.

    Scale shape: one posexplode map pass; both windows (phrase-id
    cumsum, phrase length) partition by doc_id — never global; the
    word-score table is O(vocab), joined back by token (shuffle join,
    AQE decides strategy — never force-broadcast a corpus-scaled
    frame); per-phrase collect_list is bounded by document length. The
    final ranking is a TakeOrderedAndProject top-{k}.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    marked = toks.withColumn(
        "is_stop", F.col("tok").isin(*_STOPWORDS).cast("int")
    ).withColumn(
        "phrase_id",
        F.sum("is_stop").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cand = marked.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "pos", "tok"
    )
    plen = cand.withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "phrase_id")),
    )
    words = plen.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    wscore = words.select(
        "tok",
        F.expr("CAST((1000000 * deg) DIV freq AS BIGINT)").alias(
            "wscore_micro"
        ),
    )
    phr = (
        cand.join(wscore, "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore_micro").cast("long").alias("score_micro"),
        )
    )
    return (
        phr.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_micro").cast("long").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(_RAKE_TOP)
    )


text_keyword_rake.__doc__ = text_keyword_rake.__doc__.format(
    ns=len(_STOPWORDS), k=_RAKE_TOP
)
