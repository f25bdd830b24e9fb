"""Keyword-search serving over the document corpus.

The query-side counterpart of the text-analysis indexing passes: a
conjunctive (AND) keyword query answered from term postings with a
tf-based ranking — the minimal shape of a search/retrieval serving path
run against the same corpus the curation operators produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

_TERMS = ["window", "merge"]
_SEARCH_K = 10

_TERMS_SQL = ", ".join(f"'{t}'" for t in _TERMS)

_SEARCH_ORACLE = f"""
WITH postings AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE tok IN ({_TERMS_SQL})
    GROUP BY 1, 2
),
matched AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score
    FROM postings
    GROUP BY doc_id
    HAVING COUNT(DISTINCT tok) = {len(_TERMS)}
)
SELECT doc_id, score
FROM matched
ORDER BY score DESC, doc_id
LIMIT {_SEARCH_K}
"""


@query("search_keyword_topk", oracle=_SEARCH_ORACLE)
def search_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search: documents containing ALL of {terms},
    ranked by total term frequency (deterministic doc_id tie-break),
    top {k} — a boolean-retrieval query answered from postings.

    Scale shape: the term filter applies BEFORE any shuffle (narrow
    explode + filter, so only postings for the query's terms ever leave
    an executor — at 100 TB that is the decisive reduction, same
    blocking idea as the dedup inverted indexes). One doc_id shuffle
    aggregates tf and enforces the AND via a distinct-term count;
    the top-k compiles to TakeOrderedAndProject (per-partition heaps,
    no global sort). A standing index would precompute the postings
    table once and serve many queries from it — this operator is
    exactly the query-time half of that split.
    """
    docs = table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    matched = (
        postings.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("score"),
            F.count_distinct("tok").alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_TERMS))
        .select("doc_id", "score")
    )
    return matched.orderBy(F.col("score").desc(), "doc_id").limit(_SEARCH_K)


search_keyword_topk.__doc__ = search_keyword_topk.__doc__.format(
    terms=_TERMS, k=_SEARCH_K
)


# --------------------------------------------------------------------------
# Diversity-capped top-k — at most N results per source
# --------------------------------------------------------------------------

_DIVERSE_PER_SOURCE = 2
_DIVERSE_K = 10

_DIVERSE_ORACLE = f"""
WITH scored AS (
    SELECT d.doc_id, d.source, CAST(COUNT(*) AS BIGINT) AS score
    FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
          FROM documents) d
    WHERE d.tok = 'window'
    GROUP BY 1, 2
),
capped AS (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY score DESC, doc_id) AS src_rank
    FROM scored
)
SELECT doc_id, source, score, CAST(src_rank AS INT) AS src_rank
FROM capped
WHERE src_rank <= {_DIVERSE_PER_SOURCE}
ORDER BY score DESC, doc_id
LIMIT {_DIVERSE_K}
"""


@query("search_diverse_topk", oracle=_DIVERSE_ORACLE)
def search_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-capped retrieval: the top {k} documents for a term by
    tf score, with AT MOST {c} results per source — the constraint
    every search/retrieval layer applies so one domain cannot fill the
    page. Two-stage shape: a per-source window rank prunes each source
    to its best {c} candidates FIRST (the cap commutes with the global
    ordering because ranks follow the same (score, doc_id) order), and
    only the pruned sources×{c} survivors enter the global top-k —
    which therefore compiles to TakeOrderedAndProject over a bounded
    set rather than ranking the full corpus.
    """
    docs = table(spark, sf_dir, "documents")
    scored = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") == "window")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    src_rank = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
    )
    return (
        scored.withColumn("src_rank", src_rank)
        .filter(F.col("src_rank") <= _DIVERSE_PER_SOURCE)
        .select("doc_id", "source", "score", F.col("src_rank").cast("int").alias("src_rank"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_DIVERSE_K)
    )


search_diverse_topk.__doc__ = search_diverse_topk.__doc__.format(
    k=_DIVERSE_K, c=_DIVERSE_PER_SOURCE
)


# --------------------------------------------------------------------------
# BM25 ranked retrieval — the production ranking function
# --------------------------------------------------------------------------

_BM25_TERMS = ["window", "merge", "shuffle"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# Shared CTE chain: full BM25 score table (doc_id, bm25_micro) —
# search_bm25_topk takes its top-k; search_rrf_fusion fuses it with the
# embedding ranking.
_BM25_SCORE_CTES = f"""lens AS (
    SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS dl
    FROM documents
),
corpus AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS n_toks
    FROM lens
),
postings AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE tok IN ({_BM25_TERMS_SQL})
    GROUP BY 1, 2
),
idf AS (
    SELECT tok,
           CAST(round(ln(1.0 + (c.n_docs - df + 0.5) / (df + 0.5))
                      * 1000000) AS BIGINT) AS idf_micro
    FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
          FROM postings GROUP BY 1), corpus c
),
contrib AS (
    SELECT p.doc_id,
           CAST(round(
               i.idf_micro
               * (p.tf * ({_BM25_K1} + 1.0))
               / (p.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B}
                     + {_BM25_B} * l.dl * c.n_docs / c.n_toks))
           ) AS BIGINT) AS c_micro
    FROM postings p
    JOIN idf i USING (tok)
    JOIN lens l USING (doc_id), corpus c
),
bm25 AS (
    SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS bm25_micro
    FROM contrib
    GROUP BY doc_id
)"""

_BM25_ORACLE = f"""
WITH {_BM25_SCORE_CTES}
SELECT doc_id, bm25_micro
FROM bm25
ORDER BY bm25_micro DESC, doc_id
LIMIT {_BM25_K}
"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 score table (doc_id, bm25_micro) over _BM25_TERMS — the
    shared scorer behind search_bm25_topk and search_rrf_fusion."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    lens = docs.select("doc_id", F.size(toks).cast("long").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_toks"),
    )
    postings = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        postings.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(corpus))  # bounded: 1-row global aggregate
        .select(
            "tok",
            cents(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
                6,
            )
            .alias("idf_micro"),
            "n_docs",
            "n_toks",
        )
    )
    contrib = (
        postings.join(F.broadcast(idf), "tok")  # bounded: enum/bucket-keyed rollup (bounded group count)
        .join(lens, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("idf_micro")
                * (F.col("tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (
                        1.0
                        - _BM25_B
                        + _BM25_B
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("n_toks")
                    )
                )
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("c_micro").cast("long").alias("bm25_micro")
    )


@query("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck-Jones, the production
    default everywhere Lucene runs): disjunctive query over {terms},
    scored with idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), k1={k1},
    b={b}, idf = ln(1+(N−df+0.5)/(df+0.5)) — the full length-normalized
    ranking the tf-only `search_keyword_topk` approximates.

    Cross-engine exactness: idf is rounded to integer micro-nats per
    term FIRST; every other input (tf, dl, N, Σdl) is an exact bigint,
    so each posting's contribution is one identical IEEE expression
    (dl/avgdl written as dl·N/Σdl — one multiply, one divide, no
    intermediate rounding) rounded to micro-units before the exact
    integer sum per document.

    Scale shape: the term filter prunes postings BEFORE any shuffle —
    only the query's ≤{nt} terms' postings move. Document lengths are a
    narrow per-row derivation (no shuffle); corpus totals are one 1-row
    aggregate broadcast everywhere; df/idf is a ≤{nt}-row broadcast.
    One doc_id shuffle builds (doc, term, tf); the final per-document
    sum rides the same clustering, and the top-{k} compiles to
    TakeOrderedAndProject. At 100 TB the posting filter is the whole
    game — the plan never materializes anything wider than the query's
    own postings.
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_BM25_K)
    )


search_bm25_topk.__doc__ = search_bm25_topk.__doc__.format(
    terms=_BM25_TERMS, k1=_BM25_K1, b=_BM25_B,
    nt=len(_BM25_TERMS), k=_BM25_K,
)


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ embedding ranking via Reciprocal Rank Fusion
# --------------------------------------------------------------------------

_RRF_K = 60        # the standard RRF smoothing constant (Cormack et al.)
_RRF_DEPTH = 50    # fuse the top-50 of each ranking
_RRF_OUT = 10
_RRF_QUERY_VEC = 0  # vec_id whose embedding is the dense query

_RRF_ORACLE = f"""
WITH {_BM25_SCORE_CTES},
bm_rank AS (
    SELECT doc_id, CAST(rn AS BIGINT) AS bm25_rank
    FROM (SELECT doc_id, row_number() OVER (
              ORDER BY bm25_micro DESC, doc_id) AS rn
          FROM bm25 WHERE doc_id <> {_RRF_QUERY_VEC})
    WHERE rn <= {_RRF_DEPTH}
),
e AS (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings
),
nrm AS (
    SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS norm FROM e
),
qv AS (SELECT emb AS qemb, norm AS qnorm
       FROM nrm WHERE vec_id = {_RRF_QUERY_VEC}),
cosines AS (
    SELECT nrm.vec_id AS doc_id,
           round(list_sum(list_transform(list_zip(qv.qemb, nrm.emb),
                                         p -> p[1] * p[2]))
                 / (qv.qnorm * nrm.norm), 6) AS cosine
    FROM nrm, qv
    WHERE nrm.vec_id <> {_RRF_QUERY_VEC}
),
vec_rank AS (
    SELECT doc_id, CAST(rn AS BIGINT) AS vec_rank
    FROM (SELECT doc_id, row_number() OVER (
              ORDER BY cosine DESC, doc_id) AS rn
          FROM cosines)
    WHERE rn <= {_RRF_DEPTH}
)
SELECT doc_id, bm25_rank, vec_rank,
       COALESCE(CAST(round(1000000.0 / ({_RRF_K} + bm25_rank)) AS BIGINT), 0)
       + COALESCE(CAST(round(1000000.0 / ({_RRF_K} + vec_rank)) AS BIGINT), 0)
           AS rrf_micro
FROM bm_rank FULL OUTER JOIN vec_rank USING (doc_id)
ORDER BY rrf_micro DESC, doc_id
LIMIT {_RRF_OUT}
"""


@query("search_rrf_fusion", oracle=_RRF_ORACLE)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-serving default: fuse a SPARSE ranking
    (BM25 over the query terms) with a DENSE ranking (cosine against a
    query embedding, here vec {qv}'s) by Reciprocal Rank Fusion:
    score(d) = Σ_lists 1/(k + rank_list(d)), k={k}, over each list's
    top-{depth}. RRF needs no score calibration between the lists —
    only ranks — which is exactly why it is the standard hybrid
    combiner (Cormack/Clarke/Buettcher, SIGIR'09; every vector-DB
    hybrid mode ships it).

    Cross-engine exactness: ranks are integers with deterministic ties
    (score DESC, doc_id); each list contribution is rounded to integer
    micro-units before the sum, so fusion is exact bigint arithmetic.

    Scale shape: each ranking bounds itself FIRST (BM25 postings are
    term-pruned then TakeOrderedAndProject top-{depth}; the dense side
    is one broadcast-query corpus scan, same as similarity_topk_brute,
    with its own top-{depth}) — the fusion then full-outer-joins two
    {depth}-row dust tables. At 100 TB the dense side swaps in the
    IVF/LSH candidate path; the fusion stage is size-invariant.
    """
    bm50 = (
        _bm25_scores(spark, sf_dir)
        .filter(F.col("doc_id") != _RRF_QUERY_VEC)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    bm_rank = bm50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_micro").desc(), "doc_id"))
        .cast("long")
        .alias("bm25_rank"),
    )

    from .similarity import _as_double, _dot, with_norm  # noqa: PLC0415

    emb = with_norm(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("emb")
        )
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("emb").alias("qemb"), F.col("norm").alias("qnorm")
    )
    cosines = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot("qemb", "emb") / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    vec50 = cosines.orderBy(F.col("cosine").desc(), "doc_id").limit(
        _RRF_DEPTH
    )
    vec_rank = vec50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), "doc_id"))
        .cast("long")
        .alias("vec_rank"),
    )

    def _contrib(rank_col):
        return F.coalesce(
            F.round(1_000_000.0 / (_RRF_K + F.col(rank_col))).cast("long"),
            F.lit(0).cast("long"),
        )

    return (
        bm_rank.join(vec_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "bm25_rank",
            "vec_rank",
            (_contrib("bm25_rank") + _contrib("vec_rank")).alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(_RRF_OUT)
    )


search_rrf_fusion.__doc__ = search_rrf_fusion.__doc__.format(
    qv=_RRF_QUERY_VEC, k=_RRF_K, depth=_RRF_DEPTH
)


# --------------------------------------------------------------------------
# Retrieval evaluation: nDCG@k of the BM25 ranking vs graded relevance
# --------------------------------------------------------------------------

_NDCG_K = 10
# Graded gold: relevance = number of DISTINCT query terms the document
# contains (0..3) — the deterministic proxy every offline eval starts
# from when no click log exists.
# One shared per-position expression: (2^rel - 1) / log2(pos + 1),
# micro-rounded at the position before the exact integer sum.
_NDCG_CONTRIB = (
    "CAST(round((pow(2.0, rel) - 1) * 1000000.0"
    " / (ln(pos + 1.0) / ln(2.0))) AS BIGINT)"
)

_NDCG_ORACLE = f"""
WITH {_BM25_SCORE_CTES},
rel AS (
    SELECT doc_id, CAST(COUNT(DISTINCT tok) AS BIGINT) AS rel
    FROM postings GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, CAST(rn AS BIGINT) AS pos
    FROM (SELECT doc_id, row_number() OVER (
              ORDER BY bm25_micro DESC, doc_id) AS rn
          FROM bm25)
    WHERE rn <= {_NDCG_K}
),
dcg AS (
    SELECT CAST(SUM({_NDCG_CONTRIB}) AS BIGINT) AS dcg_micro
    FROM (SELECT r.pos, COALESCE(g.rel, 0) AS rel
          FROM ranked r LEFT JOIN rel g USING (doc_id))
),
ideal AS (
    SELECT CAST(rn AS BIGINT) AS pos, rel
    FROM (SELECT rel, row_number() OVER (
              ORDER BY rel DESC, doc_id) AS rn
          FROM rel)
    WHERE rn <= {_NDCG_K}
),
idcg AS (
    SELECT CAST(SUM({_NDCG_CONTRIB}) AS BIGINT) AS idcg_micro FROM ideal
)
SELECT dcg_micro, idcg_micro,
       CAST(round(dcg_micro * 1000000.0 / idcg_micro) AS BIGINT)
           AS ndcg_micro
FROM dcg, idcg
"""


@query("eval_retrieval_ndcg", oracle=_NDCG_ORACLE)
def eval_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION in-engine: nDCG@{k} of the deployed BM25
    ranking (shared _bm25_scores stage) against graded relevance
    (distinct query terms present, 0..{nt}) — the metric that closes
    the search loop (index → rank → fuse → EVALUATE) exactly the way
    eval_langid_prf closes the classifier loop. Emits exact DCG / IDCG
    in micro-units and their ratio.

    Cross-engine exactness: each position's (2^rel−1)/log2(pos+1)
    contribution is one shared arithmetic expression micro-rounded at
    the position (the perplexity discipline), so both DCG sums are
    exact bigints; ideal-ranking ties break on doc_id.

    Scale shape: relevance is the term-pruned postings table reduced
    per doc (one partial-aggregated shuffle shared with BM25's own
    df counts); both rankings are TakeOrderedAndProject top-{k}; every
    DCG computation runs on ≤{k}-row dust. At 100 TB, judged/graded
    pairs replace the term-count proxy and the plan is unchanged.
    """
    scores = _bm25_scores(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    rel = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").cast("long").alias("rel"))
    )
    top = scores.orderBy(F.col("bm25_micro").desc(), "doc_id").limit(
        _NDCG_K
    )
    ranked = top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_micro").desc(), "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    dcg = (
        ranked.join(rel, "doc_id", "left")
        .select(
            "pos", F.coalesce("rel", F.lit(0)).cast("long").alias("rel")
        )
        .agg(F.sum(F.expr(_NDCG_CONTRIB)).cast("long").alias("dcg_micro"))
    )
    ideal_top = rel.orderBy(F.col("rel").desc(), "doc_id").limit(_NDCG_K)
    ideal = ideal_top.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("rel").desc(), "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    idcg = ideal.agg(
        F.sum(F.expr(_NDCG_CONTRIB)).cast("long").alias("idcg_micro")
    )
    return dcg.crossJoin(idcg).select(
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "CAST(round(dcg_micro * 1000000.0 / idcg_micro) AS BIGINT)"
        ).alias("ndcg_micro"),
    )


eval_retrieval_ndcg.__doc__ = eval_retrieval_ndcg.__doc__.format(
    k=_NDCG_K, nt=len(_BM25_TERMS)
)


# --------------------------------------------------------------------------
# Retrieval evaluation: AP@k + MRR of the BM25 ranking (binary relevance)
# --------------------------------------------------------------------------

_MAP_K = 20

_MAP_ORACLE = f"""
WITH {_BM25_SCORE_CTES},
rel AS (
    SELECT doc_id, CAST(COUNT(DISTINCT tok) AS BIGINT) AS rel
    FROM postings GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, CAST(rn AS BIGINT) AS pos
    FROM (SELECT doc_id, row_number() OVER (
              ORDER BY bm25_micro DESC, doc_id) AS rn
          FROM bm25)
    WHERE rn <= {_MAP_K}
),
hits AS (
    SELECT r.pos,
           CASE WHEN COALESCE(g.rel, 0) >= 1 THEN 1 ELSE 0 END AS hit
    FROM ranked r LEFT JOIN rel g USING (doc_id)
),
cum AS (
    SELECT pos, hit,
           CAST(SUM(hit) OVER (ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_hits
    FROM hits
),
terms AS (
    SELECT CAST(SUM(CASE WHEN hit = 1
                         THEN (1000000 * cum_hits) // pos
                         ELSE 0 END) AS BIGINT) AS ap_num,
           CAST(SUM(hit) AS BIGINT) AS hits_at_k,
           CAST(MIN(CASE WHEN hit = 1 THEN pos END) AS BIGINT)
               AS first_rel_pos
    FROM cum
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel WHERE rel >= 1
)
SELECT n_relevant, hits_at_k, first_rel_pos,
       CASE WHEN first_rel_pos IS NULL THEN NULL
            ELSE CAST(1000000 // first_rel_pos AS BIGINT) END AS mrr_micro,
       CASE WHEN LEAST(n_relevant, {_MAP_K}) = 0 THEN NULL
            ELSE CAST(ap_num // LEAST(n_relevant, {_MAP_K}) AS BIGINT) END
           AS ap_micro
FROM terms CROSS JOIN tot
"""


@query("eval_retrieval_map", oracle=_MAP_ORACLE)
def eval_retrieval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @ {k} and reciprocal rank of the deployed BM25
    ranking against BINARY relevance (any query term present) — the
    two order-sensitive IR metrics eval_retrieval_ndcg's graded gain
    doesn't cover (AP integrates precision exactly at the recall
    points; RR is the navigational first-hit metric). Together the
    three give the standard offline retrieval report.

    Cross-engine exactness is all-integer: each relevant position
    contributes (1e6·cum_hits) DIV pos — truncating integer division,
    order-insensitive integer sum — and AP divides by min(R, {k}) with
    one more exact DIV; RR is 1e6 DIV first_rel_pos. Zero-relevant
    corpora NULL both metrics in both engines.

    Scale shape: shares the _bm25_scores stage (term-pruned postings,
    partial-aggregated); the ranking is TakeOrderedAndProject top-{k};
    every metric computation runs on ≤{k}-row dust plus a 1-row
    relevant-count aggregate. At 100 TB, per-query grouping keys the
    same dataflow by query_id and nothing else changes."""
    scores = _bm25_scores(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    rel = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").cast("long").alias("rel"))
        .localCheckpoint(eager=False)
    )
    top = scores.orderBy(F.col("bm25_micro").desc(), "doc_id").limit(
        _MAP_K
    )
    ranked = top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_micro").desc(), "doc_id"))
        .cast("long")
        .alias("pos"),
    )
    hits = ranked.join(rel, "doc_id", "left").select(
        "pos",
        F.when(F.coalesce("rel", F.lit(0)) >= 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("hit"),
    )
    cum = hits.withColumn(
        "cum_hits",
        F.sum("hit")
        .over(
            Window.orderBy("pos").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long"),
    )
    terms = cum.agg(
        F.sum(
            F.expr(
                "CASE WHEN hit = 1 THEN (1000000 * cum_hits) DIV pos"
                " ELSE 0 END"
            )
        )
        .cast("long")
        .alias("ap_num"),
        F.sum("hit").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("hit") == 1, F.col("pos")))
        .cast("long")
        .alias("first_rel_pos"),
    )
    tot = rel.filter(F.col("rel") >= 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    return terms.crossJoin(F.broadcast(tot)).select(  # bounded: 1-row global aggregate
        "n_relevant",
        "hits_at_k",
        "first_rel_pos",
        F.expr(
            "CASE WHEN first_rel_pos IS NULL THEN NULL"
            " ELSE CAST(1000000 DIV first_rel_pos AS BIGINT) END"
        ).alias("mrr_micro"),
        F.expr(
            f"CASE WHEN LEAST(n_relevant, {_MAP_K}) = 0 THEN NULL"
            f" ELSE CAST(ap_num DIV LEAST(n_relevant, {_MAP_K})"
            f" AS BIGINT) END"
        ).alias("ap_micro"),
    )


eval_retrieval_map.__doc__ = eval_retrieval_map.__doc__.format(k=_MAP_K)


# --------------------------------------------------------------------------
# Positional phrase search ("data window" adjacency over positional postings)
# --------------------------------------------------------------------------

_PHRASE_A, _PHRASE_B = "data", "window"

_PHRASE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
p AS (
    SELECT doc_id, i AS pos, toks[i] AS tok
    FROM d, unnest(generate_series(1, len(toks))) AS t(i)
    WHERE toks[i] IN ('{_PHRASE_A}', '{_PHRASE_B}')
)
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p a JOIN p b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = '{_PHRASE_A}' AND b.tok = '{_PHRASE_B}'
GROUP BY a.doc_id
"""


@query("search_phrase_match", oracle=_PHRASE_ORACLE)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("{a} {b}") from positional postings — the
    inverted-index adjacency join every phrase-capable search engine
    (Lucene proximity, ES match_phrase) runs, as dataflow.

    Postings are built by posexplode of the token array and filtered to
    the phrase's terms BEFORE anything moves — the selective-term trick:
    the wire carries only (doc_id, pos) pairs for the two query terms,
    never full postings. Adjacency is then one equi-join on doc_id with
    the position predicate (pos_b = pos_a + 1) evaluated inside the
    join, and occurrence counts are a partial-aggregated groupBy. This
    counts OVERLAPPING repeats correctly ("a b a b" with phrase "a b" →
    2), which substring replace()-counting tricks get wrong.

    At 100 TB the posting build is a map-only pass over documents; the
    join keys on doc_id so both sides co-partition in one shuffle each,
    and term selectivity bounds the shuffle to the phrase's document
    frequency, not the corpus.
    """
    docs = table(spark, sf_dir, "documents")
    return phrase_occurrences(docs, _PHRASE_A, _PHRASE_B)


def phrase_occurrences(docs: DataFrame, term_a: str, term_b: str) -> DataFrame:
    """Phrase-adjacency core over any (doc_id, text) frame; counts every
    occurrence, including overlapping repeats (term_a == term_b works:
    "a a a" contains "a a" twice). Posting volume == the phrase terms'
    document-frequency mass, proven in closed form at volume by
    tests/test_scale_smoke.py."""
    postings = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
        )
        .filter(F.col("tok").isin(term_a, term_b))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    a = postings.filter(F.col("tok") == term_a).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = postings.filter(F.col("tok") == term_b).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, ["doc_id"])
        .filter(F.col("pos_b") == F.col("pos_a") + 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


search_phrase_match.__doc__ = search_phrase_match.__doc__.format(
    a=_PHRASE_A, b=_PHRASE_B
)
