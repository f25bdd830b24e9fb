"""In-engine ML training: fixed-iteration logistic regression by
batch gradient descent, deterministic across engines.

The rest of the suite SERVES models (quality scorer, PQ/IVF codebooks,
BPE merges); this module TRAINS one inside the engine — the MLlib-shaped
workload expressed as pure DataFrame dataflow: per-row gradient
contributions, one partial-aggregated global sum per iteration, a 1-row
broadcast weight update. The same shape a parameter-server-free
distributed GD sweep has at any scale.

Determinism discipline (the pagerank/perplexity combination): features
are exact integer-derived rationals with FIXED scaling constants (no
data-dependent standardization — that would put an order-sensitive
stddev in front of every gradient), each row's gradient contribution is
rounded to integer micro-units BEFORE the sum (exact bigint reduction,
any partitioning), and the weight update divides exact integers. The
only cross-engine float risk is libm's exp in the sigmoid, bounded by
the same micro-rounding argument text_perplexity_proxy documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query

_GD_ITERS = 3
_GD_LR = 1.0  # learning rate; gradients are means, so 1.0 is stable


def _gd_oracle() -> str:
    its = []
    prev = "w0"
    for k in range(1, _GD_ITERS + 1):
        its.append(
            f"""g{k} AS (
    SELECT
        CAST(SUM(CAST(round((1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1
                                               + w.w2 * f.x2))) - f.y)
                            * 1000000) AS BIGINT)) AS BIGINT) AS gb,
        CAST(SUM(CAST(round((1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1
                                               + w.w2 * f.x2))) - f.y)
                            * f.x1 * 1000000) AS BIGINT)) AS BIGINT) AS g1,
        CAST(SUM(CAST(round((1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1
                                               + w.w2 * f.x2))) - f.y)
                            * f.x2 * 1000000) AS BIGINT)) AS BIGINT) AS g2,
        CAST(COUNT(*) AS BIGINT) AS n
    FROM feats f, {prev} w
),
w{k} AS (
    SELECT w.b - {_GD_LR} * round(g.gb * 1.0 / g.n) / 1000000.0 AS b,
           w.w1 - {_GD_LR} * round(g.g1 * 1.0 / g.n) / 1000000.0 AS w1,
           w.w2 - {_GD_LR} * round(g.g2 * 1.0 / g.n) / 1000000.0 AS w2
    FROM {prev} w, g{k} g
)"""
        )
        prev = f"w{k}"
    chained = ",\n".join(its)
    return f"""
WITH per_ud AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type <> 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
           CAST(SUM(CASE WHEN event_type <> 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents_other,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY 1, 2
),
feats AS (
    SELECT y,
           n_other / 10.0 AS x1,
           cents_other / 10000.0 AS x2
    FROM per_ud
),
w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2),
{chained},
final AS (
    SELECT f.y,
           1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))) AS p
    FROM feats f, {prev} w
)
SELECT
    CAST((SELECT COUNT(*) FROM feats) AS BIGINT) AS n_rows,
    CAST(round(w.b * 1000000) AS BIGINT) AS b_micro,
    CAST(round(w.w1 * 1000000) AS BIGINT) AS w1_micro,
    CAST(round(w.w2 * 1000000) AS BIGINT) AS w2_micro,
    CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
        AS n_correct
FROM final, {prev} w
GROUP BY w.b, w.w1, w.w2
"""


@query("ml_logistic_gd", oracle=_gd_oracle())
def ml_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained IN the engine: {it} fixed
    batch-gradient-descent iterations predicting whether a
    (user, day) converts to a purchase from that day's NON-purchase
    activity (event count, spend — fixed scaling constants,
    exact-integer features; ~40% positive class, so the fit is a real
    decision boundary, not a constant). Emits the learned weights in
    micro-units plus training accuracy at the 0.5 threshold.

    Each iteration is the canonical distributed-GD dataflow: per-row
    sigmoid → per-row gradient contribution rounded to integer
    MICRO-units at birth (the perplexity discipline — the global sum
    becomes an exact bigint reduction, order-insensitive on any
    partitioning), one map-side-combined aggregate to a 1-row gradient,
    and a 1-row broadcast weight update. The chained-CTE oracle replays
    the identical recurrence; no data-dependent standardization sits in
    front of the gradient because a stddev there would be
    order-sensitive.

    Scale shape: the fact collapses to per-(user, day) features ONCE
    (one shuffle); each of the {it} iterations re-scans only that feature
    frame with a broadcast 1-row weight join — at 100 TB this is {it}
    feature-frame passes and {it} single-row exchanges, the minimum any
    full-batch GD does, with lineage bounded by the fixed iteration
    count.
    """
    ev = table(spark, sf_dir, "events")
    other = F.col("event_type") != "purchase"
    per_ud = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(other.cast("long")).alias("n_other"),
        F.sum(
            F.when(other, cents("value"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("cents_other"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    )
    feats = per_ud.select(
        "y",
        (F.col("n_other") / 10.0).alias("x1"),
        (F.col("cents_other") / 10_000.0).alias("x2"),
    ).localCheckpoint(eager=False)

    weights = spark.createDataFrame(
        [(0.0, 0.0, 0.0)], "b double, w1 double, w2 double"
    )
    for _ in range(_GD_ITERS):
        j = feats.crossJoin(F.broadcast(weights))  # bounded: 1-row weight vector
        resid = (
            1.0
            / (
                1.0
                + F.exp(
                    -(
                        F.col("b")
                        + F.col("w1") * F.col("x1")
                        + F.col("w2") * F.col("x2")
                    )
                )
            )
            - F.col("y")
        )
        g = j.agg(
            F.sum(cents(resid, 6)).alias("gb"),
            F.sum(
                cents(resid * F.col("x1"), 6)
            ).alias("g1"),
            F.sum(
                cents(resid * F.col("x2"), 6)
            ).alias("g2"),
            F.count(F.lit(1)).alias("n"),
        )
        weights = weights.crossJoin(F.broadcast(g)).select(  # bounded: 1-row global aggregate
            (
                F.col("b")
                - _GD_LR
                * F.round(F.col("gb") * 1.0 / F.col("n"))
                / 1_000_000.0
            ).alias("b"),
            (
                F.col("w1")
                - _GD_LR
                * F.round(F.col("g1") * 1.0 / F.col("n"))
                / 1_000_000.0
            ).alias("w1"),
            (
                F.col("w2")
                - _GD_LR
                * F.round(F.col("g2") * 1.0 / F.col("n"))
                / 1_000_000.0
            ).alias("w2"),
        ).localCheckpoint(eager=True)
        # ^ 1-row weight vector, checkpointed at the sweep boundary (the
        # hits_sweeps discipline, r12 optimization round): weights_k is
        # referenced TWICE in sweep k+1 (gradient crossJoin + update), so
        # an unbroken lineage doubled the whole feats-aggregate subtree
        # per sweep — the final plan held 48 scans of the feats RDD / 30
        # BroadcastExchanges (2^sweeps blow-up), re-running the full
        # feature pass ~12× per execution. Truncating makes the plan the
        # documented one: _GD_ITERS feature passes + 1 readout, linear.
    final = feats.crossJoin(F.broadcast(weights))  # bounded: 1-row weight vector
    p = 1.0 / (
        1.0
        + F.exp(
            -(
                F.col("b")
                + F.col("w1") * F.col("x1")
                + F.col("w2") * F.col("x2")
            )
        )
    )
    return final.groupBy("b", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            ((p >= 0.5) == (F.col("y") == 1)).cast("long")
        ).alias("n_correct"),
    ).select(
        "n_rows",
        cents("b", 6).alias("b_micro"),
        cents("w1", 6).alias("w1_micro"),
        cents("w2", 6).alias("w2_micro"),
        "n_correct",
    )


ml_logistic_gd.__doc__ = ml_logistic_gd.__doc__.format(it=_GD_ITERS)


# --------------------------------------------------------------------------
# Multinomial Naive Bayes: train + score + per-doc predictions in-engine
# --------------------------------------------------------------------------

_NB_ORACLE = """
WITH toks AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
test_tok AS (
    SELECT doc_id, lang AS actual, tok, CAST(COUNT(*) AS BIGINT) AS k
    FROM toks WHERE doc_id % 5 = 0
    GROUP BY 1, 2, 3
),
n_train AS (
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM train
),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM train),
cls AS (
    SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS tot
    FROM train GROUP BY 1
),
priors AS (
    SELECT lang,
           CAST(ROUND(1000000.0 * LN(n_docs * 1.0 / n)) AS BIGINT)
               AS prior_micro,
           CAST(ROUND(1000000.0 * LN(1.0 / (tot + v))) AS BIGINT)
               AS def_micro,
           tot
    FROM cls, n_train, vocab
),
model AS (
    SELECT t.lang, t.tok,
           CAST(ROUND(1000000.0 * LN((t.cnt + 1.0) / (c.tot + vb.v)))
                AS BIGINT) AS logp_micro
    FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM train GROUP BY 1, 2) t
    JOIN cls c USING (lang), vocab vb
),
scored AS (
    SELECT tt.doc_id, tt.actual, p.lang,
           p.prior_micro
           + SUM(tt.k * COALESCE(m.logp_micro, p.def_micro)) AS score
    FROM test_tok tt
    CROSS JOIN priors p
    LEFT JOIN model m ON m.lang = p.lang AND m.tok = tt.tok
    GROUP BY 1, 2, 3, p.prior_micro
),
best AS (
    SELECT doc_id, actual, lang AS predicted,
           CAST(score AS BIGINT) AS score_micro,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang) AS rn
    FROM scored
)
SELECT doc_id, actual, predicted, score_micro,
       actual = predicted AS correct
FROM best WHERE rn = 1
ORDER BY doc_id
"""


@query("ml_naive_bayes_langid", oracle=_NB_ORACLE)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language-ID, trained AND evaluated
    in-engine: docs split 80/20 by doc_id % 5, add-one-smoothed token
    likelihoods learned from the train split, every held-out doc scored
    against all classes and argmax-predicted. The second trained model
    in the suite (after ml_logistic_gd), and the counts-only training
    shape that made NB the canonical map-reduce classifier.

    Determinism: every log-likelihood is micro-nat-rounded to a bigint
    BEFORE any summation (the perplexity discipline), scores are exact
    integer sums, argmax ties break on class name. Unseen (class,
    token) pairs take the smoothed default via the left-join coalesce.

    Scale shape: training is two partial-aggregated count passes (per
    (class, token) and per class) — the model is vocab-sized, never
    corpus-sized; scoring joins test tokens to the model on (class,
    token) and the 5-row prior table rides as a broadcast fan-out. One
    window on the types×docs score table picks predictions.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
    )
    train = toks.filter(F.col("doc_id") % 5 != 0)
    test_tok = (
        toks.filter(F.col("doc_id") % 5 == 0)
        .groupBy("doc_id", F.col("lang").alias("actual"), "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n_train = train.agg(
        F.count_distinct("doc_id").alias("n")
    )
    vocab = train.agg(F.count_distinct("tok").alias("v"))
    cls = train.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("tot"),
    )
    priors = (
        cls.crossJoin(F.broadcast(n_train))  # bounded: 1-row global aggregate
        .crossJoin(F.broadcast(vocab))  # bounded: 1-row distinct-count
        .select(
            "lang",
            F.round(
                F.lit(1000000.0)
                * F.log(F.col("n_docs") * 1.0 / F.col("n"))
            )
            .cast("long")
            .alias("prior_micro"),
            F.round(
                F.lit(1000000.0)
                * F.log(F.lit(1.0) / (F.col("tot") + F.col("v")))
            )
            .cast("long")
            .alias("def_micro"),
        )
    )
    model = (
        train.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(cls.select("lang", "tot"), "lang")
        .crossJoin(F.broadcast(vocab))  # bounded: 1-row distinct-count
        .select(
            "lang",
            "tok",
            F.round(
                F.lit(1000000.0)
                * F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    priors = priors.select(
        F.col("lang").alias("cls_lang"), "prior_micro", "def_micro"
    )
    model = model.select(
        F.col("lang").alias("m_lang"),
        F.col("tok").alias("m_tok"),
        "logp_micro",
    )
    scored = (
        test_tok.crossJoin(F.broadcast(priors))  # bounded: enum/bucket-keyed rollup (bounded group count)
        .join(
            model,
            (F.col("m_lang") == F.col("cls_lang"))
            & (F.col("m_tok") == F.col("tok")),
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "cls_lang",
            "prior_micro",
            (
                F.col("k")
                * F.coalesce(F.col("logp_micro"), F.col("def_micro"))
            ).alias("contrib"),
        )
        .groupBy("doc_id", "actual", "cls_lang", "prior_micro")
        .agg(
            (F.col("prior_micro") + F.sum("contrib")).alias("score")
        )
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "cls_lang"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("cls_lang").alias("predicted"),
            F.col("score").cast("long").alias("score_micro"),
            (F.col("actual") == F.col("cls_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# k-means (Lloyd) trained in-engine over the embedding table
# --------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 2


def _km_oracle() -> str:
    """Chained-CTE replay of the fixed-iteration Lloyd loop in long
    (vec, dim, micro-int) form — assignment by exact integer squared
    distance, centroid update by round(sum/count) micro-units."""
    its = []
    prev = "c0"
    for k in range(1, _KM_ITERS + 1):
        its.append(
            f"""d{k} AS (
    SELECT p.vec_id, c.cid,
           CAST(SUM((p.e - c.e) * (p.e - c.e)) AS BIGINT) AS dist
    FROM pts p JOIN {prev} c USING (dim)
    GROUP BY 1, 2
),
a{k} AS (
    SELECT d.vec_id, MIN(d.cid) AS cid
    FROM d{k} d
    JOIN (SELECT vec_id, MIN(dist) AS md FROM d{k} GROUP BY 1) m
      ON m.vec_id = d.vec_id AND d.dist = m.md
    GROUP BY 1
),
c{k} AS (
    SELECT a.cid, p.dim,
           CAST(round(SUM(p.e) * 1.0 / COUNT(*)) AS BIGINT) AS e
    FROM a{k} a JOIN pts p USING (vec_id)
    GROUP BY 1, 2
)"""
        )
        prev = f"c{k}"
    chained = ",\n".join(its)
    return f"""
WITH pts AS (
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                AS BIGINT) AS e
    FROM embeddings
),
c0 AS (SELECT vec_id AS cid, dim, e FROM pts WHERE vec_id < {_KM_K}),
{chained},
df AS (
    SELECT p.vec_id, c.cid,
           CAST(SUM((p.e - c.e) * (p.e - c.e)) AS BIGINT) AS dist
    FROM pts p JOIN {prev} c USING (dim)
    GROUP BY 1, 2
),
af AS (
    SELECT d.vec_id, MIN(d.cid) AS cid, MIN(d.dist) AS md
    FROM df d
    JOIN (SELECT vec_id, MIN(dist) AS md FROM df GROUP BY 1) m
      ON m.vec_id = d.vec_id AND d.dist = m.md
    GROUP BY 1
)
SELECT s.cid,
       a.n_points,
       a.inertia,
       s.checksum
FROM (SELECT cid, CAST(SUM(dim * e) AS BIGINT) AS checksum
      FROM {prev} GROUP BY 1) s
JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(md) AS BIGINT) AS inertia
      FROM af GROUP BY 1) a USING (cid)
ORDER BY s.cid
"""


@query("ml_kmeans_lloyd", oracle=_km_oracle())
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means trained IN the engine — {it} fixed Lloyd iterations over
    the embedding table (k={k}, seeds = vectors 0..{k1}), completing the
    in-engine ML trio (logistic GD, naive Bayes, and now the canonical
    unsupervised workhorse behind IVF codebooks, SemDeDup cells, and
    embedding-space curation). Emits per final cluster: size, exact
    inertia (Σ min squared distance), and a per-dimension centroid
    checksum.

    Cross-engine exactness (the graph_pagerank discipline): vectors are
    cast to integer MICRO-units at birth, so squared distances and
    inertia are exact bigints (order-insensitive on any partitioning);
    argmin ties break to the lowest centroid id; each centroid update
    rounds sum·1.0/count once — the identical IEEE expression on both
    engines. The chained-CTE oracle replays the exact recurrence.

    Scale shape: points live long-form (vec, dim, micro) — the
    assignment join keys on dim against a centroids table of k×dims
    rows (broadcast-sized at any corpus scale), partially aggregates
    (vec, cid) distances map-side, and the update is one keyed
    aggregation to k×dims rows; per iteration that is three keyed
    exchanges (distance partial-agg, per-vector argmin, centroid
    update), every one with reduce state bounded by points or
    codebook, never points×points. localCheckpoint truncates lineage
    between the {it} rounds, exactly the pagerank/kcore loop hygiene.
    """
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("long").alias("dim"),
        cents(F.col("x").cast("double"), 6)
        .alias("e"),
    ).localCheckpoint(eager=True)
    cent = pts.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "dim", "e"
    )

    def _assign(centroids):
        d = (
            pts.join(
                centroids.select(
                    "cid", "dim", F.col("e").alias("ce")
                ),
                "dim",
            )
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("e") - F.col("ce")) * (F.col("e") - F.col("ce"))
                )
                .cast("long")
                .alias("dist")
            )
        )
        # Argmin as ONE struct-min aggregation: min(struct(dist, cid))
        # is lexicographic — smallest distance, ties to the smallest
        # cid — exactly the previous min-dist + join-back + min-cid
        # semantics, without the self-join's second pass over the
        # distance table and its extra exchange (guide §2.4; the
        # kcenter Observation-argmax lesson). Per iteration this drops
        # one exchange and one join; same-window ABAB min-of-5:
        # 1.89 -> 1.37 s at sf0.1, 4.60 -> 4.14 s at the 10x fixture
        # (r13).
        return (
            d.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid")).alias("mn"))
            .select(
                "vec_id",
                F.col("mn.cid").alias("cid"),
                F.col("mn.dist").alias("md"),
            )
        )

    for _ in range(_KM_ITERS):
        assign = _assign(cent)
        cent = (
            assign.select("vec_id", "cid")
            .join(pts, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.round(F.sum("e") * 1.0 / F.count(F.lit(1)))
                .cast("long")
                .alias("e")
            )
            .localCheckpoint(eager=True)
        )
    final = _assign(cent)
    stats = final.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("md").cast("long").alias("inertia"),
    )
    checksum = cent.groupBy("cid").agg(
        F.sum(F.col("dim") * F.col("e")).cast("long").alias("checksum")
    )
    return (
        checksum.join(stats, "cid")
        .select("cid", "n_points", "inertia", "checksum")
        .orderBy("cid")
    )


ml_kmeans_lloyd.__doc__ = ml_kmeans_lloyd.__doc__.format(
    it=_KM_ITERS, k=_KM_K, k1=_KM_K - 1
)


# --------------------------------------------------------------------------
# Decision stump: best single-feature split by weighted Gini impurity
# --------------------------------------------------------------------------

_STUMP_GINI_EXPR = (
    "CAST(floor((CAST(nl * nl - pl * pl - ql * ql AS DOUBLE)"
    " / (CAST(n_total AS DOUBLE) * nl)"
    " + CAST(nr * nr - pr * pr - qr * qr AS DOUBLE)"
    " / (CAST(n_total AS DOUBLE) * nr)) * 1000000 + 0.5) AS BIGINT)"
)

_STUMP_ORACLE = f"""
WITH hist AS (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS p
    FROM lineitem GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(SUM(p) AS BIGINT) AS p_total
    FROM hist
),
pre AS (
    SELECT q,
           CAST(SUM(n) OVER (ORDER BY q) AS BIGINT) AS nl,
           CAST(SUM(p) OVER (ORDER BY q) AS BIGINT) AS pl
    FROM hist
),
scored AS (
    SELECT q AS split_q, nl, pl, nl - pl AS ql,
           n_total - nl AS nr, p_total - pl AS pr,
           (n_total - nl) - (p_total - pl) AS qr,
           n_total
    FROM pre CROSS JOIN tot
    WHERE nl < n_total
)
SELECT split_q,
       nl AS n_left, pl AS pos_left,
       nr AS n_right, pr AS pos_right,
       {_STUMP_GINI_EXPR} AS gini_micro
FROM scored
ORDER BY {_STUMP_GINI_EXPR}, split_q
LIMIT 1
"""


@query("ml_decision_stump", oracle=_STUMP_ORACLE)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training: the best `quantity <= t` split for
    predicting returns (l_returnflag = 'R'), by weighted Gini impurity —
    the inner loop of every distributed tree learner (XGBoost/LightGBM
    hist-mode, Spark MLlib trees), expressed as pure dataflow.

    The scan shape is the histogram trick: ONE partial-aggregated
    shuffle collapses the fact table to a (feature-value, n, positives)
    histogram — bounded cardinality (50 distinct quantities here;
    continuous features get equi-depth bins first, the
    agg_equidepth_buckets kernel) — then every candidate threshold's
    left/right class counts are prefix sums over that tiny table, and
    the argmin is a sort of ≤50 rows. The fact table is never sorted
    and never visited twice; at 100 TB only the histogram moves.

    Exactness: Gini = 1 - Σ p_i² is evaluated on exact bigint counts in
    the algebraically-cleared form (n² - pos² - neg²)/(N·n), one
    deterministic double expression per threshold, micro-pinned; the
    argmin tie-breaks on the threshold value, so the winner is unique.
    (Count products n² cap bigint headroom at ~3e9 rows/side; past
    that, pre-scale counts to thousands — same discipline as
    functions/exact.py.)
    """
    li = table(spark, sf_dir, "lineitem")
    examples = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return stump_best_split(examples)


def stump_best_split(examples: DataFrame) -> DataFrame:
    """Stump-training core over any (q: long feature, y: 0/1 label)
    frame: histogram → prefix sums → micro-pinned Gini argmin. Proven
    at 5M rows on a perfectly separable synthetic (the known split
    comes back with gini_micro == 0) by tests/test_scale_smoke.py."""
    hist = examples.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    pre = hist.select(
        "q",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("p").over(w).cast("long").alias("pl"),
    )
    tot = hist.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("p").cast("long").alias("p_total"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))  # bounded: 1-row global aggregate
        .filter(F.col("nl") < F.col("n_total"))
        .select(
            F.col("q").alias("split_q"),
            "nl",
            "pl",
            (F.col("nl") - F.col("pl")).alias("ql"),
            (F.col("n_total") - F.col("nl")).alias("nr"),
            (F.col("p_total") - F.col("pl")).alias("pr"),
            (
                (F.col("n_total") - F.col("nl"))
                - (F.col("p_total") - F.col("pl"))
            ).alias("qr"),
            "n_total",
        )
        .withColumn("gini_micro", F.expr(_STUMP_GINI_EXPR))
    )
    return (
        scored.orderBy("gini_micro", "split_q")
        .limit(1)
        .select(
            "split_q",
            F.col("nl").alias("n_left"),
            F.col("pl").alias("pos_left"),
            F.col("nr").alias("n_right"),
            F.col("pr").alias("pos_right"),
            "gini_micro",
        )
    )


# --------------------------------------------------------------------------
# OLS via normal equations (closed form, one scan, Cramer's rule)
# --------------------------------------------------------------------------

# Moments are exact bigints; the 3x3 solve happens in ONE deterministic
# double expression per coefficient (identical text in Spark and DuckDB,
# neither engine reassociates floating-point arithmetic), so the result
# is bit-identical. d-prefixed names are the moments cast to double.
_OLS_CAST = (
    "CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS ds1,"
    " CAST(s2 AS DOUBLE) AS ds2, CAST(s11 AS DOUBLE) AS ds11,"
    " CAST(s12 AS DOUBLE) AS ds12, CAST(s22 AS DOUBLE) AS ds22,"
    " CAST(sy AS DOUBLE) AS dsy, CAST(s1y AS DOUBLE) AS ds1y,"
    " CAST(s2y AS DOUBLE) AS ds2y"
)

_OLS_DET = (
    "(dn * (ds11 * ds22 - ds12 * ds12)"
    " - ds1 * (ds1 * ds22 - ds12 * ds2)"
    " + ds2 * (ds1 * ds12 - ds11 * ds2))"
)
_OLS_DET0 = (
    "(dsy * (ds11 * ds22 - ds12 * ds12)"
    " - ds1 * (ds1y * ds22 - ds12 * ds2y)"
    " + ds2 * (ds1y * ds12 - ds11 * ds2y))"
)
_OLS_DET1 = (
    "(dn * (ds1y * ds22 - ds12 * ds2y)"
    " - dsy * (ds1 * ds22 - ds12 * ds2)"
    " + ds2 * (ds1 * ds2y - ds1y * ds2))"
)
_OLS_DET2 = (
    "(dn * (ds11 * ds2y - ds1y * ds12)"
    " - ds1 * (ds1 * ds2y - ds1y * ds2)"
    " + dsy * (ds1 * ds12 - ds11 * ds2))"
)

# Natural units: the moments use y in cents and discount in cents
# (exact integers); y_c = b0 + b1*q + b2*d_c  =>  y = b0/100 + (b1/100)q
# + b2*d, so intercept and the quantity slope divide by 100 on output.
_OLS_BETAS = (
    f"CAST(floor({_OLS_DET0} / {_OLS_DET} / 100.0 * 1000000 + 0.5)"
    " AS BIGINT) AS beta0_micro,"
    f" CAST(floor({_OLS_DET1} / {_OLS_DET} / 100.0 * 1000000 + 0.5)"
    " AS BIGINT) AS beta1_micro,"
    f" CAST(floor({_OLS_DET2} / {_OLS_DET} * 1000000 + 0.5)"
    " AS BIGINT) AS beta2_micro"
)

_OLS_ORACLE = f"""
WITH m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s2,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s12,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s22,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sy,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS s1y,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS s2y
    FROM lineitem
),
d AS (SELECT n, {_OLS_CAST} FROM m)
SELECT n, {_OLS_BETAS} FROM d
"""


@query("ml_ols_normal_eq", oracle=_OLS_ORACLE)
def ml_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS (price ~ quantity + discount) via the normal
    equations: ONE partial-aggregated scan collapses the fact table to
    the nine sufficient moments (n, Σx, ΣxxT, ΣxTy), then Cramer's rule
    solves the 3x3 system on that single row. The iterative twin is
    ml_logistic_gd; this is the one-pass shape every linear model with
    a small feature count should take at 100 TB — no per-iteration
    scans, no feature matrix materialized, the wire carries 9 integers.

    Exactness: quantity is integer-valued and discount/price are 2-dp
    exact, so every moment is an exact bigint on any partitioning
    (largest, Σ q·y_cents, ~3e14 at sf0.1 — headroom to ~sf300;
    past that pre-scale y to whole units). The determinant algebra
    runs in doubles cast from those integers, a single fixed
    expression both engines evaluate identically, micro-pinned.
    """
    li = table(spark, sf_dir, "lineitem")
    examples = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        cents("l_discount").alias("dc"),
        cents("l_extendedprice").alias("yc"),
    )
    return ols_fit(examples)


def _ols_moments(examples: DataFrame) -> DataFrame:
    """One-scan sufficient moments (n, Σx, ΣxxT, ΣxTy) over any
    (q, dc, yc) integer-feature frame — shared by the OLS and ridge
    solvers."""
    q = F.col("q")
    dc = F.col("dc")
    yc = F.col("yc")
    return examples.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(dc).cast("long").alias("s2"),
        F.sum(q * q).cast("long").alias("s11"),
        F.sum(q * dc).cast("long").alias("s12"),
        F.sum(dc * dc).cast("long").alias("s22"),
        F.sum(yc).cast("long").alias("sy"),
        F.sum(q * yc).cast("long").alias("s1y"),
        F.sum(dc * yc).cast("long").alias("s2y"),
    )


def ols_fit(examples: DataFrame) -> DataFrame:
    """OLS core over any (q, dc, yc) integer-feature frame (y and the
    second feature in cents): one-scan moments + Cramer's rule. Exact
    recovery proven at 5M rows on a noiseless synthetic plane by
    tests/test_scale_smoke.py (beta_micro come back as the exact
    generating coefficients)."""
    d = _ols_moments(examples).selectExpr("n", *_OLS_CAST.split(", "))
    return d.selectExpr("n", *_OLS_BETAS.split(", "))


# --------------------------------------------------------------------------
# Ridge via normal equations (the L2-stabilized twin of ml_ols_normal_eq)
# --------------------------------------------------------------------------

_RIDGE_LAMBDA = 50  # per-row L2 penalty on the (unstandardized) slopes

_RIDGE_ORACLE = f"""
WITH m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s2,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s11,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s12,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS s22,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sy,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS s1y,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS s2y
    FROM lineitem
),
r AS (
    SELECT n, s1, s2,
           CAST(s11 + {_RIDGE_LAMBDA} * n AS BIGINT) AS s11, s12,
           CAST(s22 + {_RIDGE_LAMBDA} * n AS BIGINT) AS s22,
           sy, s1y, s2y
    FROM m
),
d AS (SELECT n, {_OLS_CAST} FROM r)
SELECT n, {_OLS_BETAS} FROM d
"""


@query("ml_ridge_normal_eq", oracle=_RIDGE_ORACLE)
def ml_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (price ~ quantity + discount, λ = {lam} per
    row) through the SAME one-scan normal-equations kernel as
    ml_ols_normal_eq — the L2-stabilized fit a production pipeline
    reaches for when features are collinear or the moment matrix is
    near-singular (at 100 TB a nearly-constant feature makes the plain
    OLS determinant catastrophically small; the +λn diagonal keeps the
    solve conditioned). Intercept unpenalized (textbook), penalty
    scaled by n so the shrinkage strength is per-row invariant — the
    same data at 10× the rows shrinks identically.

    Exactness: the penalty lands as s11 + λ·n and s22 + λ·n — exact
    bigint additions on exact bigint moments BEFORE the double cast, so
    the kernel shares ml_ols_normal_eq's bit-exact Cramer expressions
    verbatim. λ = 0 degenerates to OLS exactly (asserted in tests).
    """
    li = table(spark, sf_dir, "lineitem")
    examples = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        cents("l_discount").alias("dc"),
        cents("l_extendedprice").alias("yc"),
    )
    return ridge_fit(examples, _RIDGE_LAMBDA)


def ridge_fit(examples: DataFrame, lam: int) -> DataFrame:
    """Ridge core over any (q, dc, yc) integer-feature frame: the OLS
    moment pass with +λ·n added to the slope diagonals (exact bigint),
    then the shared Cramer solve."""
    r = _ols_moments(examples).select(
        "n",
        "s1",
        "s2",
        (F.col("s11") + F.lit(lam) * F.col("n")).cast("long").alias("s11"),
        "s12",
        (F.col("s22") + F.lit(lam) * F.col("n")).cast("long").alias("s22"),
        "sy",
        "s1y",
        "s2y",
    )
    d = r.selectExpr("n", *_OLS_CAST.split(", "))
    return d.selectExpr("n", *_OLS_BETAS.split(", "))


ml_ridge_normal_eq.__doc__ = ml_ridge_normal_eq.__doc__.format(
    lam=_RIDGE_LAMBDA
)
