"""Deduplication operator family (SURVEY.md X14-X15 + driver mandate).

Four tiers, cheapest to most semantic, all shuffle-on-key shapes that
scale to 100 TB:

1. exact key dedup           — one hash aggregation on the dedup key.
2. normalized-hash dedup     — md5 over canonicalized text; same shape.
3. n-gram Jaccard pair-find  — inverted-index self-join on shingles
                               (the scalable way to find near-dup pairs:
                               only docs *sharing* a shingle ever meet).
4. MinHash + LSH banding     — fixed-size signatures (32 hashes), band
                               buckets, candidates only within a bucket;
                               candidate count is data-dependent, work per
                               doc is O(shingles × hashes) and constant.

SimHash (bitwise near-dup) lives in the same family; its 64-bit signature
is computed with built-in integer ops (no Python in the hot path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions.exact import md5_long, norm_text
from ..registry import query

# --------------------------------------------------------------------------
# X14 — exact dedup
# --------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT
    user_id,
    event_type,
    CAST(MIN(event_id) AS BIGINT) AS first_event_id,
    CAST(COUNT(*) AS BIGINT)      AS n_dups
FROM events
GROUP BY user_id, event_type
"""


@query("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: exact dedup on a composite key, keeping a deterministic
    representative (min event_id) — ``dropDuplicates`` semantics made
    order-independent. One hash aggregation; map-side partials collapse
    duplicates before the shuffle."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


# --------------------------------------------------------------------------
# X15a — normalized-hash near-dedup (oracle-checkable tier)
# --------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))"

_NORMHASH_ORACLE = f"""
SELECT
    md5({_NORM})                  AS norm_hash,
    CAST(MIN(doc_id) AS BIGINT)   AS canonical_doc,
    CAST(COUNT(*) AS BIGINT)      AS n_members
FROM documents
GROUP BY 1
"""


@query("dedup_normhash", oracle=_NORMHASH_ORACLE)
def dedup_normhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: content-hash dedup over canonicalized text (lowercase, strip
    punctuation, collapse case). md5 is identical across engines so the
    hash itself is oracle-checked. Grouping by a 128-bit hash instead of
    the full text keeps shuffle rows small — at 100 TB you shuffle 16-byte
    keys, not documents."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(norm_text()).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


# --------------------------------------------------------------------------
# X15b — n-gram Jaccard near-dup pairs (inverted-index self-join)
# --------------------------------------------------------------------------

_NGRAM_ORACLE = """
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE doc_id < 200
),
grams AS (
    SELECT DISTINCT doc_id,
           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram
    FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT
    i.doc_a,
    i.doc_b,
    CAST(i.n_common AS BIGINT) AS n_common,
    CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.05
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: exact word-trigram Jaccard similarity for candidate pairs.

    Inverted-index shape: explode distinct shingles, self-join on the
    shingle, count co-occurrences, join back the set sizes. Only documents
    sharing ≥1 shingle meet in the join — never the full N² cross product.
    The jaccard value is an integer ratio (exact across engines).

    doc_id < 200 bounds the demo; the plan itself is size-independent
    (shuffle on gram, then on pair). For corpora where hot shingles blow
    up the join, drop shingles with document-frequency above a cap first
    (standard stop-shingle pruning) — see dedup_minhash_lsh for the
    signature-based alternative with constant per-doc work.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    # zip_with over three slices (not transform(sequence)+element_at,
    # which re-evaluates the inlined array per shingle — see
    # minhash_signatures).
    n2 = F.size("toks") - 2
    tri = F.zip_with(
        F.slice("toks", 1, n2),
        F.zip_with(
            F.slice("toks", 2, n2),
            F.slice("toks", 3, n2),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    # The shingle postings feed the set-size rollup AND both sides of
    # the inverted-index self-join; a lazy checkpoint builds the index
    # once instead of re-scanning and re-shingling the corpus per
    # consumer.
    grams = toks.select(
        "doc_id", F.explode(F.array_distinct(tri)).alias("gram")
    ).localCheckpoint(eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= 0.05)


# --------------------------------------------------------------------------
# X15c — MinHash + LSH banding (signature tier)
# --------------------------------------------------------------------------

N_HASHES = 32
BAND_SIZE = 4  # → 8 bands; P(candidate) ≈ 1-(1-j^4)^8

# Portable hash family, identical in Spark expressions and DuckDB SQL so the
# signature tier is oracle-checkable (xxhash64 has no DuckDB twin):
#   base(gram) = first 15 md5 hex digits as int — 60 uniform bits.
#   member m:   h_m = hi·A_m + lo·B_m + m·C
# with hi/lo the 30-bit halves of base and A/B odd 30-bit splitmix-derived
# constants — a multiply-add universal-style family. Each product stays
# < 2^60 and the sum < 2^61, so the arithmetic is exact, overflow-free
# signed-64 in BOTH engines with no mod ops (keeps the 32 codegen'd member
# expressions small; compile time of the fused expression tree is the real
# local cost, and it vanishes relative to data volume at scale).
_LO30 = (1 << 30) - 1
_MEMBER_C = 999_983


def _mix32(v: int) -> int:
    x = v & 0xFFFFFFFF
    x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
    x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
    return x ^ (x >> 16)


def _member_coeffs(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """(A_m, B_m) per member — odd 30-bit constants from the splitmix mix."""
    return [
        (_mix32(2 * m + 101) & _LO30 | 1, _mix32(2 * m + 202) & _LO30 | 1)
        for m in range(n_hashes)
    ]


def _member_hash_sql(h: str, m: int, a: int, b: int) -> str:
    """Multiply-add member hash of a 60-bit base, as SQL text over an
    expression string ``h``: hi·A_m + lo·B_m + m·C with hi/lo the 30-bit
    halves. Generated as text and parsed server-side in ONE py4j round
    trip — the Column-API construction cost ~10 RPCs per member, ~400
    per 32-member query build (r13, guide §5 driver overhead)."""
    return (
        f"shiftrightunsigned({h}, 30) * {a} + ({h} & {_LO30}) * {b}"
        f" + {m * _MEMBER_C}"
    )


# Word-trigram shingle array over a `toks` array<string> column —
# SQL-text twin of the zip_with-over-three-slices expression the
# docstring of minhash_signatures motivates.
_TRI_SQL = (
    "zip_with(slice(toks, 1, size(toks) - 2), "
    "zip_with(slice(toks, 2, size(toks) - 2), "
    "slice(toks, 3, size(toks) - 2), (b, c) -> concat(b, ' ', c)), "
    "(a, bc) -> concat(a, ' ', bc))"
)

# 60-bit hash of every shingle — md5_long(g, digits=15) as SQL text.
_GHASH_SQL = (
    "transform(grams, g -> "
    "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"
)


def _sig_sql(n_hashes: int = N_HASHES) -> str:
    """The n-member MinHash fold as ONE SQL expression string: aggregate
    over ghashes with an n-wide least() accumulator (see
    minhash_signatures' docstring for why this shape). Byte-identical
    semantics to the Column-API construction it replaces."""
    coeffs = _member_coeffs(n_hashes)
    init = ", ".join(f"{1 << 62}L" for _ in coeffs)
    members = ", ".join(
        _member_hash_sql("h", m, a, b) for m, (a, b) in enumerate(coeffs)
    )
    return (
        f"aggregate(ghashes, array({init}), "
        f"(acc, h) -> zip_with(acc, array({members}), "
        "(x, y) -> least(x, y)))"
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id → array<long> of MinHash values over word trigrams.

    Cost shape: each shingle *string* is hashed exactly once (md5 prefix →
    60-bit long); the n-hash family is then derived with four integer ops
    per member on that fixed-width long — far cheaper than re-hashing
    strings per member. No explode, no Python, constant work per document.

    Expression discipline (measured 2.5× at sf0.1): trigrams come from
    zip_with over three slices — NOT transform(sequence)+element_at,
    where projection collapse inlines the token array into every
    element_at and re-evaluates it per shingle — and the n mins come
    from ONE aggregate() pass with an n-wide least() accumulator — NOT
    n array_min(transform(ghashes, ...)) expressions, which inline the
    md5 transform n times and re-hash every shingle per member.
    """
    # Entire pipeline as generated SQL text (r13): the Column-API
    # construction of the trigram zip_with + 32-member aggregate fold
    # cost ~450 py4j round trips per build; the identical expressions
    # parse server-side in three.
    return _sigs_from_grams(_gram_arrays(docs), n_hashes)


def _gram_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, grams: array<string>) — the distinct word-trigram
    shingle arrays every minhash tier starts from. Split out (r13) so
    dedup_minhash_verify can share ONE tokenize+shingle subtree between
    its candidate pipeline and its exact re-score."""
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    return toks.select(
        "doc_id", F.expr(f"array_distinct({_TRI_SQL})").alias("grams")
    )


def _sigs_from_grams(
    grams: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    ghashed = grams.select("doc_id", F.expr(_GHASH_SQL).alias("ghashes"))
    return ghashed.select("doc_id", F.expr(_sig_sql(n_hashes)).alias("sig"))


def _minhash_banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band_idx, band_hash) — the LSH band explode shared
    by dedup_minhash_lsh and dedup_minhash_verify (r13)."""
    n_bands = N_HASHES // BAND_SIZE
    band_keys = F.expr(
        "array("
        + ", ".join(
            f"slice(sig, {b * BAND_SIZE + 1}, {BAND_SIZE})"
            for b in range(n_bands)
        )
        + ")"
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.posexplode(band_keys).alias("band_idx", "band_hash"),
    )


def _minhash_oracle() -> str:
    """DuckDB twin of the full MinHash-LSH pipeline (generated so the
    member-hash coefficients are shared with the Spark expressions)."""
    member_rows = ",\n        ".join(
        f"({m}, {a}, {b})" for m, (a, b) in enumerate(_member_coeffs())
    )
    n_bands = N_HASHES // BAND_SIZE
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram
    FROM toks, unnest(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
ghash AS (
    SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
    FROM grams
),
members(m, a, b) AS (
    VALUES {member_rows}
),
sig_rows AS (
    SELECT g.doc_id, mm.m,
           MIN((g.h >> 30) * mm.a + (g.h & {_LO30}) * mm.b
               + mm.m * {_MEMBER_C}) AS mh
    FROM ghash g CROSS JOIN members mm
    GROUP BY 1, 2
),
sigs AS (
    SELECT doc_id, list(mh ORDER BY m) AS sig FROM sig_rows GROUP BY doc_id
),
banded AS (
    SELECT doc_id, sig, b.b AS band_idx, sig[b.b * {BAND_SIZE} + 1 : (b.b + 1) * {BAND_SIZE}] AS band_key
    FROM sigs CROSS JOIN generate_series(0, {n_bands - 1}) b(b)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        list_sum(list_transform(list_zip(a.sig, b.sig),
                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END))
            / {N_HASHES}.0 AS jaccard_est
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard_est FROM pairs WHERE jaccard_est >= 0.2
"""


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: MinHash-LSH near-dup candidate pairs with estimated Jaccard.

    Pipeline: signatures (constant per-doc work) → band keys → explode
    bands → self-join per (band_idx, band_key) bucket → estimate Jaccard
    as the fraction of agreeing minhashes → keep est ≥ 0.2. Shuffles on
    the band key (bounded rows: docs × n_bands) — never a cross product.
    The portable hash family (md5_long/_member_hash_sql) makes this
    signature tier fully oracle-checkable, unusual for LSH dedup.
    """
    docs = spread(table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(_minhash_banded(minhash_signatures(docs)))


def lsh_candidate_pairs(banded: DataFrame, candidate_observation=None):
    """dedup_minhash_lsh's candidate core over any (doc_id, sig,
    band_idx, band_hash) frame: bucket self-join → per-pair signature
    Jaccard → threshold → multi-band dedup.

    ``candidate_observation``: optional ``pyspark.sql.Observation``;
    when given, a ``candidates`` count metric is attached BETWEEN the
    bucket join and the ≥0.2 threshold, so volume tests assert the
    intermediate candidate mass (== Σ_buckets C(c, 2)) on the kernel's
    actual plan — the round-11 wedge lesson is that output-side counts
    cannot see a pre-filter explosion."""
    a = banded.alias("a")
    b = banded.alias("b")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / float(N_HASHES)
    )
    # Estimate + threshold INSIDE the join projection, dedup after: the
    # signature arrays never leave the join stage, so the multi-band
    # duplicate elimination is a narrow 3-column HashAggregate instead of
    # a SortAggregate dragging two 32-long arrays per pair through the
    # shuffle (est is deterministic per pair, so filter-then-dedup ≡
    # dedup-then-filter).
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        est.alias("jaccard_est"),
    )
    if candidate_observation is not None:
        cand = cand.observe(
            candidate_observation, F.count(F.lit(1)).alias("candidates")
        )
    return (
        cand.filter(F.col("jaccard_est") >= 0.2)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# --------------------------------------------------------------------------
# X15d — SimHash (60-bit, built-in integer ops)
# --------------------------------------------------------------------------

_SIMHASH_BITS = 60  # width of the portable base hash


def _simhash_udf():
    """60-bit SimHash from per-token base hashes, one Arrow batch at
    a time: bit_i = majority vote of bit_i over the token hashes. The
    bit-vote is dense bit linear algebra — as 60 interpreted aggregate()
    folds it cost ~2 s on 5 k docs; as a numpy pass it's milliseconds
    (same reasoning as lsh_tables_udf)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)

    @pandas_udf(LongType())
    def simhash(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes.to_numpy()):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & 1  # tokens × 60
            maj = bits.sum(axis=0) * 2 > len(h)
            out[i] = int((maj.astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return simhash


_SIMHASH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1),
bits AS (
    SELECT h.doc_id, b.b,
           CASE WHEN SUM((h.h >> b.b) & 1) * 2 > MAX(c.n) THEN 1 ELSE 0 END
               AS bit
    FROM h JOIN cnt c USING (doc_id)
    CROSS JOIN generate_series(0, {_SIMHASH_BITS - 1}) b(b)
    GROUP BY 1, 2
),
sig AS (
    SELECT doc_id, CAST(SUM(bit << b) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)
SELECT doc_id, simhash,
       CAST(simhash >> {_SIMHASH_BITS - 16} AS BIGINT) AS band16
FROM sig
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: 60-bit SimHash per document.

    Tokens are hashed JVM-side with the portable md5-prefix base (same
    family as minhash — making the signature oracle-checkable); the
    majority bit-vote runs in a vectorized Arrow UDF. Near-dup candidates
    are docs equal on a 16-bit prefix band whose full Hamming distance
    ≤ 6 (bit_count(xor) — cheap integer ops on the signature).
    """
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.transform(
            F.split("text", " "), lambda g: md5_long(g, digits=15)
        ).alias("hashes"),
    )
    return toks.select(
        "doc_id", _simhash_udf()("hashes").alias("simhash")
    ).withColumn(
        "band16", F.shiftrightunsigned("simhash", _SIMHASH_BITS - 16)
    )


# --------------------------------------------------------------------------
# X14/X15 composed — near-dup clusters via connected components
# --------------------------------------------------------------------------

_CC_MAX_ITER = 12  # ≥ diameter of any near-dup cluster we accept

_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (
{_NGRAM_ORACLE.strip()}
),
nodes AS (
    SELECT doc_id FROM documents WHERE doc_id < 200
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
"""


@query("dedup_cc_clusters", oracle=_CC_ORACLE)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from near-dup PAIRS: connected components by
    iterative min-label propagation (cluster id = smallest doc_id in the
    component) — the step every dedup pipeline needs between "these two
    match" and "keep one per group".

    Each iteration is one shuffle (edges ⋈ labels → min per node) and the
    loop stops as soon as a sweep changes nothing; iterations needed =
    graph diameter, which for near-dup similarity graphs is tiny. Lineage
    is truncated per sweep (localCheckpoint) so plans don't grow with the
    iteration count — the standard Spark iterative-algorithm shape. The
    oracle recomputes the same components with a recursive CTE.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    return connected_components(nodes, pairs)


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = _CC_MAX_ITER
) -> DataFrame:
    """Min-label propagation: (doc_id) × (doc_a, doc_b) → (doc_id,
    cluster_id) with cluster_id = smallest doc_id in the component.
    One shuffle per sweep; stops at the first unchanged sweep."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = edges.localCheckpoint(eager=True)

    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor = (
            edges.join(labels, edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "cluster_id")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@query("dedup_cc_clusters_star", oracle=_CC_ORACLE)
def dedup_cc_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as dedup_cc_clusters, computed by the large-star /
    small-star contraction instead of min-label propagation — the
    scale-safe variant for ADVERSARIAL topology. Min-label needs
    O(diameter) sweeps, which degrades on chain-shaped dup graphs
    (serial crawl dumps: doc N ≈ doc N+1 ≈ doc N+2 …); star contraction
    converges in O(log² n) rounds on ANY graph (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Both run
    behind the same (nodes, pairs) signature and the recursive-CTE
    oracle adjudicates both; the 10k-node path-graph property test
    (tests/test_properties.py) exercises exactly the topology that
    breaks the label loop.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    return connected_components_star(nodes, pairs)


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    contraction: (doc_id) × (doc_a, doc_b) → (doc_id, cluster_id) with
    cluster_id = smallest doc_id in the component — same contract as
    ``connected_components``.

    Each round rewrites the edge set toward a star forest rooted at
    each component's minimum node:

    - large-star: per node u, connect every STRICTLY LARGER neighbor to
      m = min(Γ(u) ∪ {u});
    - small-star: per node u, connect u and every smaller neighbor to
      m = min of that down-neighborhood.

    Both phases are one partial-aggregated groupBy(u).min + one keyed
    join over the current edge list — O(|E|) shuffled bytes per round,
    no fact re-scan (edges are localCheckpoint-ed each round so plans
    stay flat). Rounds to converge are O(log² n) on ANY topology — a
    10k-node path needs ~12 rounds where min-label needs ~10k sweeps.
    Convergence is detected by edge-set stability (count + commutative
    hash checksum — two dust-sized aggregates per round).
    """
    spark = nodes.sparkSession
    # canonical undirected edges (hi > lo), self-loops dropped
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("hi", "lo")), F.lit(0)).alias("sig"),
        ).collect()[0]
        return int(row["n"]), int(row["sig"])

    if stats is not None:
        stats["rounds"] = 0  # rounds actually executed (convergence proof)
    sig = _signature(edges)
    for _ in range(max_iter):
        if stats is not None:
            stats["rounds"] += 1
        # ---- large-star: for each u, attach neighbors v > u to
        # m = min(neighborhood ∪ {u})
        both = edges.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionAll(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        edges = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star: per u over its SMALLER neighbors (canonical
        # form IS the down-directed list), attach u and each such v to
        # the down-neighborhood min
        down = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        dmins = down.groupBy("u").agg(F.min("v").alias("m"))
        joined = down.join(dmins, "u")
        edges = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .unionAll(
                joined.select(F.col("u").alias("hi"), F.col("m").alias("lo"))
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # Star forest: every non-root points at its component root. Isolated
    # nodes label themselves.
    roots = edges.groupBy("hi").agg(F.min("lo").alias("root"))
    return (
        nodes.join(roots, nodes.doc_id == roots.hi, "left")
        .select(
            "doc_id",
            F.coalesce("root", "doc_id").alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------------
# X14/X15 composition — train/test decontamination across the hash split
# --------------------------------------------------------------------------

_DECON_ORACLE = """
WITH docs AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket,
           string_split(text, ' ') AS toks
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, bucket,
           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram
    FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
pairs AS (
    SELECT tr.doc_id AS train_doc,
           te.doc_id AS test_doc,
           COUNT(*)  AS n_shared_grams
    FROM grams tr
    JOIN grams te ON te.gram = tr.gram
    WHERE tr.bucket < 80 AND te.bucket >= 90
    GROUP BY 1, 2
)
SELECT train_doc, test_doc, CAST(n_shared_grams AS BIGINT) AS n_shared_grams
FROM pairs
WHERE n_shared_grams >= 2
"""


@query("decontaminate_splits", oracle=_DECON_ORACLE)
def decontaminate_splits(
    spark: SparkSession, sf_dir: str, pair_observation=None
) -> DataFrame:
    """Passage-level train/test decontamination: flag train documents
    sharing >= 2 distinct word-trigrams with any test document — the
    eval-leakage sweep run before a training set ships (document-level
    hash equality catches nothing here: the corpus has no exact dups,
    leakage hides in shared passages). Composes `sample_hash_split`\'s
    deterministic md5 bucketing with `dedup_ngram_jaccard`\'s
    inverted-index shingle join.

    Plan: one scan computes bucket + distinct shingles per doc; the
    split branches meet ONLY on equal shingles (never a cross product),
    and the test side is ~10% of the corpus, so the probe stays small.
    At 100 TB, cap hot-shingle document frequency first (stop-shingle
    pruning) exactly as for the Jaccard pair-finder.

    ``pair_observation``: optional ``pyspark.sql.Observation``; when
    given, a count metric named ``shared_gram_pairs`` is attached to
    the train⨝test gram join output (BEFORE the per-pair aggregate) so
    tests can assert the INTERMEDIATE volume equals the closed form
    Σ over grams of df_train(g)·df_test(g) — the inverted-index
    fan-out the ≥2-shared-grams output floor hides.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id")) % 100
    toks = docs.select(
        "doc_id", bucket.alias("bucket"), F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= 3)
    n2 = F.size("toks") - 2
    tri = F.zip_with(
        F.slice("toks", 1, n2),
        F.zip_with(
            F.slice("toks", 2, n2),
            F.slice("toks", 3, n2),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    grams = toks.select(
        "doc_id",
        "bucket",
        F.explode(F.array_distinct(tri)).alias("gram"),
    )
    train = grams.filter(F.col("bucket") < 80).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    test = grams.filter(F.col("bucket") >= 90).select(
        F.col("doc_id").alias("test_doc"), "gram"
    )
    shared = train.join(test, "gram")
    if pair_observation is not None:
        shared = shared.observe(
            pair_observation, F.count(F.lit(1)).alias("shared_gram_pairs")
        )
    return (
        shared.groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= 2)
    )


# --------------------------------------------------------------------------
# X14/X15 composed — the DELIVERABLE of dedup: the surviving corpus
# --------------------------------------------------------------------------

_CANONICAL_ORACLE = f"""
WITH RECURSIVE pairs AS (
{_NGRAM_ORACLE.strip()}
),
nodes AS (
    SELECT doc_id FROM documents WHERE doc_id < 200
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
labels AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
),
kept AS (
    SELECT cluster_id AS doc_id,
           COUNT(*) - 1 AS n_dups_removed
    FROM labels GROUP BY cluster_id
)
SELECT k.doc_id,
       CAST(k.n_dups_removed AS BIGINT) AS n_dups_removed,
       CAST(length(d.text) AS INT)      AS text_len
FROM kept k JOIN documents d USING (doc_id)
"""


@query("dedup_canonical_corpus", oracle=_CANONICAL_ORACLE)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product every near-dedup pipeline exists to produce: the
    SURVIVING corpus — one canonical document per near-dup cluster
    (smallest doc_id), with per-survivor accounting of how many
    near-dups it displaced.

    Composition: candidate pairs (inverted-index shingle join) →
    connected components → keep rows where the component label IS the
    doc — a filter on the label table, no extra shuffle — then one join
    back to documents for payload columns. At 100 TB the join-back is
    key-partitioned on doc_id and the label table is orders of
    magnitude smaller than the corpus (only cluster representatives
    survive the groupBy).

    The CC stage is min-label propagation (O(diameter) sweeps, ideal for
    the shallow clusters shingle joins produce). dedup_cc_clusters_star
    (O(log² n) rounds on any topology) lands on the same labels and is
    checked against the same oracle."""
    labels = dedup_cc_clusters(spark, sf_dir)
    kept = (
        labels.groupBy("cluster_id")
        .agg((F.count(F.lit(1)) - 1).alias("n_dups_removed"))
        .select(
            F.col("cluster_id").alias("doc_id"),
            F.col("n_dups_removed").cast("long").alias("n_dups_removed"),
        )
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("int").alias("text_len")
    )
    return kept.join(docs, "doc_id")


# --------------------------------------------------------------------------
# X15h — fuzzy string join via symmetric-deletion (SymSpell) blocking
# --------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH dirty AS (
    SELECT p_partkey AS dirty_key,
           concat(substr(p_name, 1, (p_partkey % length(p_name))),
                  substr(p_name, (p_partkey % length(p_name)) + 2, 1000))
               AS dirty_name
    FROM part
),
clean AS (SELECT DISTINCT p_name AS clean_name FROM part),
dkeys AS (
    SELECT dirty_key, dirty_name,
           unnest(list_append(
               list_transform(generate_series(1, length(dirty_name)),
                   i -> concat(substr(dirty_name, 1, i - 1),
                               substr(dirty_name, i + 1, 1000))),
               dirty_name)) AS blk
    FROM dirty
),
ckeys AS (
    SELECT clean_name,
           unnest(list_append(
               list_transform(generate_series(1, length(clean_name)),
                   i -> concat(substr(clean_name, 1, i - 1),
                               substr(clean_name, i + 1, 1000))),
               clean_name)) AS blk
    FROM clean
),
cand AS (
    SELECT DISTINCT d.dirty_key, d.dirty_name, c.clean_name
    FROM dkeys d JOIN ckeys c ON d.blk = c.blk
)
SELECT dirty_key, dirty_name, clean_name,
       CAST(levenshtein(dirty_name, clean_name) AS BIGINT) AS edit_dist
FROM cand
WHERE levenshtein(dirty_name, clean_name) <= 1
"""


def _del1_keys(col):
    """{s} ∪ all single-character deletions of s — the SymSpell block
    keys: d(s,t) ≤ 1  ⇔  the two key sets intersect."""
    s = F.col(col)
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1), F.substring(s, i + 1, F.lit(1000))
        ),
    )
    return F.array_append(dels, s)


def symdel_match(
    dirty: DataFrame, clean: DataFrame, candidate_observation=None
) -> DataFrame:
    """The SymSpell block→join→verify kernel: match every
    ``(dirty_key, dirty_name)`` row to each ``clean_name`` within edit
    distance 1, with candidate volume O(n·L), never O(n²).

    Both sides explode to their {s} ∪ del1(s) key sets, candidates come
    from an equi-join on the key (deduped — the same deletion string can
    arise from several positions), and the row-local levenshtein verify
    runs only on candidates. Shared by the registered part-catalog query
    and the closed-form volume proof.

    ``candidate_observation``: optional ``pyspark.sql.Observation``
    attaching a ``candidates`` count metric to the raw key-join stage
    (PRE-distinct, PRE-verify) so volume tests measure the true
    intermediate mass Σ_blk d_blk·c_blk on the executed plan."""
    dkeys = dirty.select(
        "dirty_key", "dirty_name", F.explode(_del1_keys("dirty_name")).alias("blk")
    )
    ckeys = clean.select(
        "clean_name", F.explode(_del1_keys("clean_name")).alias("blk")
    )
    raw = dkeys.join(ckeys, "blk")
    if candidate_observation is not None:
        raw = raw.observe(
            candidate_observation, F.count(F.lit(1)).alias("candidates")
        )
    cand = (
        raw.select("dirty_key", "dirty_name", "clean_name")
        .distinct()
    )
    return cand.filter(
        F.levenshtein("dirty_name", "clean_name") <= 1
    ).select(
        "dirty_key",
        "dirty_name",
        "clean_name",
        F.levenshtein("dirty_name", "clean_name").cast("long").alias("edit_dist"),
    )


@query("fuzzy_join_symdel", oracle=_FUZZY_ORACLE)
def fuzzy_join_symdel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: match typo'd catalog names (one deterministic
    character deletion per part, keyed by partkey) back to the clean
    name vocabulary at edit distance ≤ 1 — WITHOUT the n² all-pairs
    levenshtein scan.

    Symmetric-deletion (SymSpell) blocking: two strings are within one
    edit iff {s}∪del1(s) and {t}∪del1(t) intersect, so each side
    explodes to O(len) block keys, candidates come from an equi-join on
    the key, and the (cheap, row-local) levenshtein verify only runs on
    the deduped candidates — the same block→join→verify shape as the
    MinHash tier, with candidate volume O(n·L), never O(n²). The
    dirty→clean recovery this models is the canonicalization step of
    entity resolution over 100 TB catalogs.

    Note the lambda index is the only per-element binding: substring
    operands are plain column attributes, so the expansion stays linear
    (see minhash_signatures on why element_at-style rebinding would not).
    """
    part = table(spark, sf_dir, "part")
    # 0-based deletion position; the two substrings excise the character
    # at pos+1 (1-based), matching the oracle's construction.
    pos = F.col("p_partkey") % F.length("p_name")
    dirty = part.select(
        F.col("p_partkey").alias("dirty_key"),
        F.concat(
            F.substring("p_name", F.lit(1), pos),
            F.substring("p_name", pos + 2, F.lit(1000)),
        ).alias("dirty_name"),
    )
    clean = part.select(F.col("p_name").alias("clean_name")).distinct()
    return symdel_match(dirty, clean)


# --------------------------------------------------------------------------
# X15i — n-gram containment (asymmetric near-dup: subsets and quotes)
# --------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE doc_id < 200
),
grams AS (
    SELECT DISTINCT doc_id,
           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram
    FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT
    i.doc_a,
    i.doc_b,
    CAST(i.n_common AS BIGINT)                 AS n_common,
    CAST(i.n_common AS DOUBLE) / sa.n          AS containment_a_in_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
WHERE CAST(i.n_common AS DOUBLE) / sa.n >= 0.5
"""


@query("dedup_ngram_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 asymmetric variant: trigram CONTAINMENT |A∩B| / |A| — the
    metric that catches a short document embedded in a long one (quotes,
    excerpts, boilerplate wrappers), which symmetric Jaccard structurally
    underweights: a 50-token doc fully contained in a 5000-token doc has
    jaccard ≈ 0.01 but containment = 1.0.

    Directed pairs (doc_id <> doc_id, not <) because containment is
    asymmetric. Same inverted-index shape as dedup_ngram_jaccard — only
    docs sharing a shingle ever meet; one shuffle on the gram, one on
    the pair, the |A| size joined back from the per-doc distinct count.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    n2 = F.size("toks") - 2
    tri = F.zip_with(
        F.slice("toks", 1, n2),
        F.zip_with(
            F.slice("toks", 2, n2),
            F.slice("toks", 3, n2),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    # Same one-pass inverted-index build as dedup_ngram_jaccard (lazy
    # checkpoint: postings feed sizes + both self-join sides).
    grams = toks.select(
        "doc_id", F.explode(F.array_distinct(tri)).alias("gram")
    ).localCheckpoint(eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("n_common").cast("double") / F.col("sa.n")).alias(
                "containment_a_in_b"
            ),
        )
        .filter(F.col("containment_a_in_b") >= 0.5)
    )


# --------------------------------------------------------------------------
# X15h — duplicated-span detection (exact-substring dedup, n-gram form)
# --------------------------------------------------------------------------

_SPAN_N = 8  # token 8-grams, the classic "exact substring" span unit

_SPAN_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
    SELECT doc_id, i AS start,
           md5(array_to_string(t[i+1:i+{_SPAN_N}], ' ')) AS gh
    FROM toks, unnest(generate_series(0, len(t) - {_SPAN_N})) AS u(i)
    WHERE len(t) >= {_SPAN_N}
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
cov AS (
    SELECT DISTINCT g.doc_id, p.pos
    FROM grams g JOIN dup d ON g.gh = d.gh,
         unnest(generate_series(g.start, g.start + {_SPAN_N - 1})) AS p(pos)
),
per_doc AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id)
SELECT
    tk.doc_id,
    CAST(len(tk.t) AS BIGINT)                  AS n_tokens,
    CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
    CAST(COALESCE(pd.dup_tokens, 0) AS DOUBLE) / len(tk.t) AS dup_fraction
FROM toks tk LEFT JOIN per_doc pd ON tk.doc_id = pd.doc_id
"""


@query("dedup_span_ngrams", oracle=_SPAN_ORACLE)
def dedup_span_ngrams(
    spark: SparkSession, sf_dir: str, span_observation=None
) -> DataFrame:
    """X15: duplicated-span accounting — the n-gram form of exact-substring
    dedup (the "dedup training data makes LMs better" recipe: drop or
    down-weight spans that repeat verbatim across the corpus).

    A token 8-gram that occurs >= 2 times corpus-wide marks all 8 of its
    token positions as duplicated; each doc reports how many of its token
    positions lie under at least one such span. The suffix-array of the
    single-machine formulation is replaced by a distributed inverted
    index, which finds exactly the same >=8-token repeats:

      1. explode every doc into (start, md5(8-gram)) — narrow, no shuffle;
      2. one partial-aggregated shuffle on the 16-byte gram hash counts
         occurrences (state per key is ONE long, never a posting list);
      3. duplicated grams join back to their occurrences on the same gh
         clustering (ReusedExchange — the exchange from step 2 serves
         both sides);
      4. covered tokens = the union length of the [start, start+8)
         intervals. Because every span has the SAME length, interval
         ends are monotone in starts, so the union length is a closed
         form over the sorted starts: first span contributes 8, each
         later span contributes min(8, start − prev_start). One lag()
         window + sum per doc — never an 8× position explode + distinct
         (the first implementation; this form shuffles ⅛ the rows);
      5. the window and the per-doc sum share one doc_id clustering.

    At 100 TB the gram table is ~tokens-in-corpus rows of (hash, start) —
    big but embarrassingly partitioned; nothing ever materializes a
    posting list or a per-doc timeline. Mirrors the reference's
    idempotent re-load semantics (``/root/reference/etl.py:127,142``) at
    span granularity rather than row granularity.

    ``span_observation``: optional ``pyspark.sql.Observation``; when
    given, a count metric named ``dup_occurrences`` is attached to the
    duplicated-gram join-back (step 3, BEFORE the lag-window union
    step) so tests can assert the INTERMEDIATE volume equals the
    closed form Σ over grams with count ≥ 2 of that count — the
    inverted-index bound the DF shuffle enforces, which the per-doc
    output totals cannot see.
    """
    docs = spread(table(spark, sf_dir, "documents"))
    n = _SPAN_N
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    g = (
        toks.filter(F.size("t") >= n)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), F.size("t") - n)).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.md5(
                F.concat_ws(" ", F.slice("t", F.col("start") + 1, n))
            ).alias("gh"),
        )
    )
    dup = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    dupstarts = g.join(dup, "gh").select("doc_id", "start")
    if span_observation is not None:
        dupstarts = dupstarts.observe(
            span_observation, F.count(F.lit(1)).alias("dup_occurrences")
        )
    w = Window.partitionBy("doc_id").orderBy("start")
    gap = F.col("start") - F.lag("start").over(w)
    contrib = F.when(gap.isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), gap)
    )
    per_doc = (
        dupstarts.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("dup_tokens"))
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_fraction"),
        )
    )


# --------------------------------------------------------------------------
# X15d' — SimHash Hamming-neighbor pairs via pigeonhole banding
# --------------------------------------------------------------------------

_SIMHASH_HAM_MAX = 3   # pairs with Hamming distance <= 3 are near-dups
_SIMHASH_N_BANDS = 4   # 4 bands x 15 bits; d<=3 => >=1 band identical

_SIMHASH_PAIRS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1),
bits AS (
    SELECT h.doc_id, b.b,
           CASE WHEN SUM((h.h >> b.b) & 1) * 2 > MAX(c.n) THEN 1 ELSE 0 END
               AS bit
    FROM h JOIN cnt c USING (doc_id)
    CROSS JOIN generate_series(0, {_SIMHASH_BITS - 1}) b(b)
    GROUP BY 1, 2
),
sig AS (
    SELECT doc_id, CAST(SUM(bit << b) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAM_MAX}
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: SimHash near-duplicate PAIRS — completes dedup_simhash (which
    emits signatures) with the actual neighbor search.

    Pigeonhole banding makes it exhaustive without an all-pairs scan:
    the 60-bit signature splits into {_SIMHASH_N_BANDS} bands of 15
    bits; two signatures within Hamming distance {_SIMHASH_HAM_MAX}
    differ in at most {_SIMHASH_HAM_MAX} bands, so AT LEAST ONE band
    matches exactly — candidates are an equi-join on (band_index,
    band_value), deduplicated, then verified with
    bit_count(xor) <= {_SIMHASH_HAM_MAX} (two integer ops). The oracle
    is the brute-force ALL-PAIRS scan over SQL-recomputed signatures, so
    the parity gate proves the banding recall is exactly 100% — the
    pigeonhole guarantee, checked, not assumed.

    At 100 TB: per-band bucket sizes are the only fan-out (near-regular
    for real signatures); candidates never exceed sum-of-bucket² and the
    signature table shuffles as 8-byte keys.
    """
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.transform(
            F.split("text", " "), lambda g: md5_long(g, digits=15)
        ).alias("hashes"),
    )
    sig = toks.select(
        "doc_id", _simhash_udf()("hashes").alias("simhash")
    ).localCheckpoint(eager=False)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("simhash", 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("band_val"),
                    )
                    for i in range(_SIMHASH_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("long")
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= _SIMHASH_HAM_MAX)


# --------------------------------------------------------------------------
# X15c' — LSH candidates verified with EXACT Jaccard (precision gate)
# --------------------------------------------------------------------------

def _minhash_verify_oracle() -> str:
    """Compose the full MinHash replay with an exact-Jaccard verify."""
    base = _minhash_oracle()
    cte_end = base.rindex("SELECT doc_a, doc_b, jaccard_est FROM pairs")
    return base[:cte_end] + """
, cand AS (SELECT doc_a, doc_b, jaccard_est FROM pairs
           WHERE jaccard_est >= 0.2),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1),
inter AS (
    SELECT c.doc_a, c.doc_b, c.jaccard_est, COUNT(*) AS ni
    FROM cand c
    JOIN grams ga ON ga.doc_id = c.doc_a
    JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    GROUP BY 1, 2, 3
)
SELECT i.doc_a, i.doc_b,
       round(i.jaccard_est, 6) AS jaccard_est,
       CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS exact_jaccard,
       (CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.2) AS is_true_pair
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""


@query("dedup_minhash_verify", oracle=_minhash_verify_oracle())
def dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: the PRECISION half of production LSH dedup — every MinHash
    candidate pair is re-scored with its EXACT trigram Jaccard, and
    candidates below the true threshold are flagged as false positives.

    Why this op must exist: the engine's portable multiply-add hash
    family (the price of an overflow-free, SQL-replayable oracle) has
    correlated members — a single shared shingle with an extremal base
    hash can minimize EVERY member function for both docs, so the
    signature estimate biases HIGH on nearly-disjoint pairs (observed:
    est ≈ 1.0 at exact J ≈ 0.005). That inflates candidates (recall is
    unaffected — banding still catches all truly similar pairs) but
    makes verification mandatory for precision. This operator IS that
    verification, exactly the candidates→verify split real LSH dedup
    ships with.

    Scale shape: candidates come from the banded equi-join (bounded);
    the exact re-score joins each candidate to its two in-row distinct
    shingle ARRAYS (no inverted-index second pass) and intersects
    row-locally — O(candidates × doc_len), embarrassingly parallel.
    """
    # ONE shared tokenize+shingle subtree (r13, guide §1.2): the
    # previous form called dedup_minhash_lsh() for candidates and
    # re-derived the gram arrays from a second spread(documents) scan —
    # two independent corpus pipelines in one query. Building candidates
    # and the exact re-score from the SAME grams frame lets AQE reuse
    # the spread exchange and the shingle work (same-window ABBA
    # min-of-4 at sf0.1: 2.22/1.86 s current vs 1.42 s shared; flat at
    # the 10x fixture; a lazy checkpoint of grams was measured and
    # declined — no further gain). At 100 TB this is one corpus
    # tokenize pass instead of two.
    docs = spread(table(spark, sf_dir, "documents"))
    gram_arrays = _gram_arrays(docs)
    cand = lsh_candidate_pairs(
        _minhash_banded(_sigs_from_grams(gram_arrays))
    ).select("doc_a", "doc_b", F.round("jaccard_est", 6).alias("jaccard_est"))
    ga = gram_arrays.alias("ga")
    gb = gram_arrays.alias("gb")
    joined = (
        cand.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard_est",
            F.size(F.array_intersect("ga.grams", "gb.grams")).alias("ni"),
            F.size("ga.grams").alias("na"),
            F.size("gb.grams").alias("nb"),
        )
    )
    exact = F.col("ni").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ni")
    )
    return joined.select(
        "doc_a",
        "doc_b",
        "jaccard_est",
        exact.alias("exact_jaccard"),
        (exact >= 0.2).alias("is_true_pair"),
    )


# --------------------------------------------------------------------------
# X15 — canonical corpus, keep-BEST-exemplar policy
# --------------------------------------------------------------------------

_BEST_CANONICAL_ORACLE = f"""
WITH RECURSIVE pairs AS (
{_NGRAM_ORACLE.strip()}
),
nodes AS (
    SELECT doc_id FROM documents WHERE doc_id < 200
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM nodes
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
labels AS (
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
),
ranked AS (
    SELECT l.cluster_id, l.doc_id, d.n_chars,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n_chars DESC, l.doc_id) AS rk,
           COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
    FROM labels l JOIN documents d USING (doc_id)
)
SELECT cluster_id, doc_id AS canonical_doc,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_chars AS BIGINT) AS canonical_chars
FROM ranked WHERE rk = 1
ORDER BY cluster_id
"""


@query("dedup_canonical_best", oracle=_BEST_CANONICAL_ORACLE)
def dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical corpus under the keep-BEST-exemplar policy — what
    production dedup actually ships: per near-dup cluster, survive the
    LONGEST document (n_chars DESC, doc_id tiebreak) instead of
    dedup_canonical_corpus's smallest-id convention, which discards
    content whenever a fragment happens to carry the lower id. Returns
    each cluster's canonical doc, size, and the survivor's length.

    Composition: the same candidate-pair + min-label-propagation
    machinery (connected_components — one shuffle per sweep, per-sweep
    localCheckpoint), then ONE window rank over the label⋈documents
    join picks the exemplar; the rank partitions on cluster_id, which
    the label table is already clustered by, so selection adds a
    single dust-sized sort. Swapping the survival policy is an ORDER BY
    change — the point of separating clustering from selection.
    """
    labels = dedup_cc_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wsize = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wsize))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
        )
        .orderBy("cluster_id")
    )
