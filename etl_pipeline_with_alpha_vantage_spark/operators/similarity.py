"""Vector similarity search over the ``embeddings`` table (SURVEY.md X16).

Two tiers:
- brute-force cosine top-k — exact, oracle-checked; the build side
  (query vectors) is broadcast, so the big side streams with no shuffle.
- random-hyperplane LSH bucketing — the 100 TB path: each vector maps to a
  small bucket id (one pass, no Python), candidates meet via an equi-join
  on the bucket, and only candidates pay the exact-cosine cost.

Scores are rounded to 6 dp *before* ranking in both engines: double
summation order may differ across engines at the last few ulps, and
rounding first makes the rank (and the hash-checked output) deterministic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import artifact, spread, table
from ..functions.exact import cents
from ..registry import query

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the demo query vectors


def _dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-fold aggregate (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "emb") -> DataFrame:
    return df.withColumn("norm", F.sqrt(_dot(vec_col, vec_col)))


def _as_double(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _np_half_away(p):
    """Exact numpy half-away-from-zero — the semantics BOTH Spark's
    BigDecimal HALF_UP and DuckDB's std::round implement. NOT
    floor(p + 0.5): for p just below a .5 tie, p + 0.5 rounds UP in
    float and misclassifies; and NOT np.rint, which is half-to-even.
    trunc and p share an exponent range, so frac = p - trunc(p) is
    IEEE-exact."""
    import numpy as np  # noqa: PLC0415

    t = np.trunc(p)
    frac = p - t
    return t + np.where(np.abs(frac) >= 0.5, np.copysign(1.0, p), 0.0)


_BRUTE_ORACLE = f"""
WITH e AS (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings
),
n AS (
    SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS norm FROM e
),
q AS (SELECT vec_id AS query_id, emb AS qemb, norm AS qnorm
      FROM n WHERE vec_id < {N_QUERIES}),
pairs AS (
    SELECT
        q.query_id,
        n.vec_id AS neighbor_id,
        round(
            list_sum(list_transform(list_zip(q.qemb, n.emb), p -> p[1] * p[2]))
            / (q.qnorm * n.norm), 6) AS cosine
    FROM q JOIN n ON n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs
)
WHERE rn <= {TOP_K}
"""


@query("similarity_topk_brute", oracle=_BRUTE_ORACLE)
def similarity_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: exact cosine top-k per query vector (brute force baseline).

    The query side is tiny and broadcast; the corpus side is scanned once
    with per-row array math inside codegen — the plan is a
    BroadcastNestedLoopJoin + per-query top-k, no shuffle of the corpus.
    Beyond ~10⁷ corpus vectors, switch to similarity_lsh_topk.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    emb = with_norm(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    pairs = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")  # bounded: query/probe-set dust (N_QUERIES-bounded)
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_dot("qemb", "emb") / (F.col("qnorm") * F.col("norm")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


N_TABLES = 12  # multi-table LSH: candidate if ANY table's bucket matches
BITS_PER_TABLE = 6


def _plane(dim: int, p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1] derived
    from a splitmix-style integer mix of (plane, dim) — no RNG state, so
    signatures are reproducible across runs and engines."""
    weights = []
    for d in range(dim):
        x = (p * 1_000_003 + d * 97 + 12345) & 0xFFFFFFFF
        x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
        x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
        x ^= x >> 16
        weights.append((x % 2001) / 1000.0 - 1.0)
    return weights


def _plane_matrix(dim: int, n_planes: int):
    import numpy as np

    return np.array([_plane(dim, p) for p in range(n_planes)], dtype=np.float64)


def lsh_tables_udf(dim: int = 64, n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE):
    """Vectorized multi-table LSH signatures: one BLAS matmul per Arrow
    batch instead of n_tables×bits interpreted array-fold expressions —
    the one place Python beats built-ins, because the work is dense
    linear algebra. Returns array<long> of per-table bucket ids; table t
    uses planes [t·bits, (t+1)·bits) (OR-construction: candidate if ANY
    table agrees, recall 1-(1-p^bits)^L).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes_t = _plane_matrix(dim, n_tables * bits).T  # dim × (tables·bits)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def signatures(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)  # rows × dim
        bits_m = (mat @ planes_t) > 0  # rows × (tables·bits)
        bkt = bits_m.reshape(len(mat), n_tables, bits) @ weights  # rows × tables
        return pd.Series(list(bkt.astype(np.int64)))

    return signatures


# The LSH pipeline is APPROXIMATE but fully DETERMINISTIC: hyperplanes come
# from a splitmix-style integer mix (pure arithmetic — reproduced below in
# SQL, verified bit-identical to _plane_matrix), signatures are sign(emb·w),
# and ranking rounds to 6 dp first. So unlike most ANN implementations this
# one gets a full value-hash oracle, not a rows-only check. Sign-flip risk
# from float64 summation order is bounded: min |emb·w| on the test corpora
# is ~2e-7, ~6 orders of magnitude above accumulation noise at dim=64.
_LSH_ORACLE = f"""
WITH planes AS (
    SELECT p.p, d.d, (x3 % 2001) / 1000.0 - 1.0 AS w
    FROM generate_series(0, {N_TABLES * BITS_PER_TABLE - 1}) p(p)
    CROSS JOIN generate_series(0, 63) d(d)
    CROSS JOIN LATERAL (
        SELECT ((p.p * 1000003 + d.d * 97 + 12345) & 4294967295) AS x0) s0
    CROSS JOIN LATERAL (
        SELECT (xor(x0, x0 >> 16) * 73244475) & 4294967295 AS x1) s1
    CROSS JOIN LATERAL (
        SELECT (xor(x1, x1 >> 16) * 73244475) & 4294967295 AS x2) s2
    CROSS JOIN LATERAL (SELECT xor(x2, x2 >> 16) AS x3) s3
),
e AS (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings
),
n AS (
    SELECT vec_id, emb, sqrt(list_sum([x * x for x in emb])) AS norm FROM e
),
dots AS (
    SELECT e.vec_id, pl.p, SUM(e.emb[pl.d + 1] * pl.w) AS dp
    FROM e CROSS JOIN planes pl
    GROUP BY 1, 2
),
sig AS (
    SELECT vec_id, p // {BITS_PER_TABLE} AS t,
           SUM(CASE WHEN dp > 0 THEN 1 << (p % {BITS_PER_TABLE}) ELSE 0 END)
               AS bucket
    FROM dots GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sig c
    JOIN (SELECT * FROM sig WHERE vec_id < {N_QUERIES}) q
      ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
scored AS (
    SELECT
        cand.query_id,
        cand.neighbor_id,
        round(
            list_sum(list_transform(list_zip(qn.emb, cn.emb), p -> p[1] * p[2]))
            / (qn.norm * cn.norm), 6) AS cosine
    FROM cand
    JOIN n qn ON qn.vec_id = cand.query_id
    JOIN n cn ON cn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
"""


@query("similarity_lsh_topk", oracle=_LSH_ORACLE)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 at scale: multi-table hyperplane-LSH ANN (12 tables × 6 bits).

    Signatures are one narrow pass per side; candidates meet through an
    equi-join on (table_idx, bucket) — a shuffle on small int keys, never
    a cross product — then only candidates pay exact cosine. For this
    corpus's top-neighbor regime (cos ≈ 0.3 on random vectors) expected
    recall ≈ 0.4 at ~5× less dot-product work than brute force; tests
    measure realized recall against similarity_topk_brute. Deterministic
    planes make even this approximate path fully oracle-checkable (see
    _LSH_ORACLE note).
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    emb = with_norm(emb)
    # Signatures materialize ONCE per execution into a dust-sized
    # (vec_id, t, bucket) table (corpus × n_tables int rows, lazy
    # localCheckpoint): the bucket table is referenced by both join
    # sides and the UDF column flowed through three more vector
    # subtrees, which Catalyst duplicated into EIGHT ArrowEvalPython
    # nodes — eight full signature passes per execution (guide §4.4
    # duplication; §5 lineage). Materializing the IDs pays the UDF
    # exactly once and keeps every vector-fetch subtree UDF-free;
    # isolated min 1.45 s → see OPTIMIZATION_r12.md.
    buckets = (
        emb.withColumn("tables", lsh_tables_udf()("emb"))
        .select("vec_id", F.posexplode("tables").alias("t", "bucket"))
        .localCheckpoint(eager=False)
    )
    # Stage 1 — candidate IDs only: the bucket join emits bare
    # (query_id, neighbor_id) pairs and dedups them in a narrow
    # HashAggregate (arrays through dropDuplicates would force a
    # SortAggregate; scoring before dedup would pay the cosine once per
    # band hit, up to n_tables× per pair).
    cand_ids = (
        buckets.join(
            F.broadcast(  # bounded: query key set (N_QUERIES x n_tables)
                buckets.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("t").alias("qt"),
                    F.col("bucket").alias("qbucket"),
                )
            ),
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # Stage 2 — gather vectors for the surviving candidates and score
    # each unique pair exactly once (plain corpus scan, no LSH UDF).
    corpus_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb"),
        F.col("norm"),
    )
    qvecs = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
        )
    )
    cand = (
        F.broadcast(cand_ids)  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .join(corpus_vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot("qemb", "emb") / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


N_CENTROIDS = 16
NPROBE = 4

def _unit_udf():
    """L2-normalize embeddings in one Arrow-batched numpy pass.

    MATERIALIZING the unit vector matters beyond BLAS speed: as a JVM
    higher-order-function expression, downstream operators that need a
    null/size check on it (e.g. posexplode's implicit filter) inline and
    re-evaluate the whole interpreted fold per row — measured 25× slower
    on the IVF Lloyd step. A pandas-UDF output is a real column and can
    only be referenced, never inlined.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def unit(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(list(mat))

    return unit


def _assign_udf(centroids):
    """cluster id = argmax cosine against the broadcast centroid matrix —
    one BLAS matmul per Arrow batch (centroids are L2-normalized so dot
    ≡ cosine up to the row norm, which doesn't change the argmax)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    cent_t = centroids.T  # dim × K

    @pandas_udf(LongType())
    def assign(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series((mat @ cent_t).argmax(axis=1).astype(np.int64))

    return assign


# Like the LSH path, IVF is approximate but DETERMINISTIC end-to-end: seeds
# are the first K unit vectors, the Lloyd sample is vec_id % 7, assignment
# argmax ties break on first index (row_number mirrors numpy argmax /
# stable argsort), and scores round to 6 dp before ranking — so the whole
# train→assign→probe→score chain replays exactly in SQL. Cross-engine
# double-summation drift (AVG in the Lloyd step, dot folds) sits ~6 orders
# of magnitude below every argmax margin and ranking gap on the test data.
# The train→assign chain (seeds → one sampled Lloyd step → renormalize →
# full-corpus argmax assignment), shared verbatim by every IVF-derived
# oracle: the top-k probe query appends probes/scoring, the SemDeDup
# composition appends the within-cell prune. Ends at ``cassign``
# (vec_id → cell).
_IVF_CELL_CTES = f"""
WITH e AS (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings
),
n AS (SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS norm FROM e),
u AS (SELECT vec_id, list_transform(emb, x -> x / norm) AS unit FROM n),
dims AS (SELECT d FROM generate_series(0, 63) t(d)),
seedids AS (SELECT vec_id FROM u ORDER BY vec_id LIMIT {N_CENTROIDS}),
seed AS (
    SELECT u.vec_id AS c, d, u.unit[d + 1] AS w
    FROM u JOIN seedids USING (vec_id) CROSS JOIN dims
),
samp AS (SELECT * FROM u WHERE vec_id % 7 = 0),
sdots AS (
    SELECT s.vec_id, sd.c, SUM(s.unit[sd.d + 1] * sd.w) AS dp
    FROM samp s CROSS JOIN seed sd GROUP BY 1, 2
),
sassign AS (
    SELECT vec_id, c AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, c)
            AS rn
        FROM sdots) WHERE rn = 1
),
dmean AS (
    SELECT sa.cell, d, AVG(s.unit[d + 1]) AS m
    FROM samp s JOIN sassign sa USING (vec_id) CROSS JOIN dims
    GROUP BY 1, 2
),
cent0 AS (
    SELECT sd.c, sd.d, COALESCE(dm.m, sd.w) AS v
    FROM seed sd LEFT JOIN dmean dm ON dm.cell = sd.c AND dm.d = sd.d
),
cnorm AS (SELECT c, sqrt(SUM(v * v)) AS nrm FROM cent0 GROUP BY 1),
cent AS (SELECT c, d, v / nrm AS v FROM cent0 JOIN cnorm USING (c)),
cdots AS (
    SELECT u.vec_id, ct.c, SUM(u.unit[ct.d + 1] * ct.v) AS dp
    FROM u CROSS JOIN cent ct GROUP BY 1, 2
),
cassign AS (
    SELECT vec_id, c AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, c)
            AS rn
        FROM cdots) WHERE rn = 1
)"""

_IVF_ORACLE = f"""{_IVF_CELL_CTES},
probes AS (
    SELECT vec_id AS query_id, c AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, c)
            AS rn
        FROM cdots WHERE vec_id < {N_QUERIES}) WHERE rn <= {NPROBE}
),
cand AS (
    SELECT p.query_id, ca.vec_id AS neighbor_id
    FROM probes p JOIN cassign ca ON ca.cell = p.cell
    WHERE ca.vec_id <> p.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           round(list_sum(list_transform(list_zip(qu.unit, nu.unit),
                 p -> p[1] * p[2])), 6) AS cosine
    FROM cand c
    JOIN u qu ON qu.vec_id = c.query_id
    JOIN u nu ON nu.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= {TOP_K}
"""


def _units(df: DataFrame) -> DataFrame:
    return df.select("vec_id", _unit_udf()("embedding").alias("unit"))


def _ivf_codebook(spark: SparkSession, sf_dir: str, raw: DataFrame):
    """Train (or fetch the memoized) IVF coarse quantizer for one corpus.

    Seed centroids from the K smallest vec_ids, one Lloyd refinement over
    a DETERMINISTIC SAMPLE (vec_id % 7 — codebooks are always trained on
    a sample, never the full corpus), computed distributed (posexplode →
    per-(cluster, dim) mean) — only the K×dim centroid matrix is ever
    collected to the driver, which is exactly what a 1000-executor IVF
    build does before broadcasting the codebook. Returns ``(head,
    cents)``: the bounded head-vector dict (seed/query vectors) and the
    L2-normalized K×dim centroid matrix.

    A real IVF deployment trains once and serves many queries against
    the persisted codebook, so the codebook is a session artifact.
    Training is fully deterministic (see similarity_ivf_topk): the memo
    changes job count, never results.
    """
    import numpy as np

    def build():
        # Seeds and query vectors come from ONE bounded collect: the
        # max(K, queries) SMALLEST vec_ids via TakeOrderedAndProject —
        # a per-partition top-k, never a corpus materialization. Seeds
        # are then the K smallest vec_ids, not ids 0..K-1: identical on
        # the contiguous fixture corpora, but robust to id gaps (the
        # off-grid halved twin keeps only even ids; assuming contiguity
        # was a KeyError there). The oracle's seedids CTE
        # (ORDER BY vec_id LIMIT K) states the same rule.
        head = {
            int(r["vec_id"]): np.array(r["unit"], dtype=np.float64)
            for r in _units(
                raw.orderBy("vec_id").limit(max(N_CENTROIDS, N_QUERIES))
            ).collect()
        }
        seed_ids = sorted(head)[:N_CENTROIDS]
        if len(seed_ids) < N_CENTROIDS:
            raise ValueError(
                f"IVF needs {N_CENTROIDS} seed vectors; corpus has "
                f"{len(head)}"
            )
        seeds = np.stack([head[i] for i in seed_ids])
        sample = _units(raw.filter(F.col("vec_id") % 7 == 0))
        dim_means = (
            sample.withColumn("cell", _assign_udf(seeds)("unit"))
            .select("cell", F.posexplode("unit").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        centroids = np.array(seeds)
        for r in dim_means:
            centroids[r["cell"], r["pos"]] = r["m"]
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
        return head, centroids

    return artifact(spark, "ivf_codebook", sf_dir, ("embeddings",), build)


def _ivf_cells(spark: SparkSession, sf_dir: str):
    """The corpus with its IVF cell assignment: ``(vec_id, unit, cell)``
    plus the trained ``(head, centroids)``. One full-corpus scan; the
    codebook is a broadcast K×dim matrix inside the assign UDF."""
    raw = table(spark, sf_dir, "embeddings")
    head, centroids = _ivf_codebook(spark, sf_dir, raw)
    # Lazy localCheckpoint: every consumer references the assigned
    # corpus at least twice (corpus side + query side), and Catalyst
    # duplicated the two chained Arrow UDFs into 6-10 ArrowEvalPython
    # corpus passes per execution (guide §4.4/§5). Materializing
    # (vec_id, unit, cell) once per execution IS the IVF index a real
    # deployment persists — normalized vectors + cell assignment —
    # so downstream probes are index reads, not re-quantization.
    corpus = (
        _units(raw)
        .withColumn("cell", _assign_udf(centroids)("unit"))
        .localCheckpoint(eager=False)
    )
    return corpus, head, centroids


@query("similarity_ivf_topk", oracle=_IVF_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 at scale, IVF variant: coarse-quantize the corpus into
    N_CENTROIDS cells (_ivf_codebook), probe the NPROBE nearest cells
    per query, exact cosine only within probed cells. The probe join is
    an equi-join on the cell id, so candidate generation never shuffles
    the corpus more than once.
    """
    import numpy as np

    corpus, head, centroids = _ivf_cells(spark, sf_dir)
    # Queries probe their NPROBE nearest refined centroids (tiny,
    # driver-side: N_QUERIES × K dot products on the collected matrix).
    # kind="stable" so exact dot-product ties break by ascending cell id,
    # provably matching the oracle's ORDER BY dp DESC, c (default
    # quicksort gives no such guarantee).
    probes = [
        (q, int(c))
        for q in sorted(i for i in head if i < N_QUERIES)
        for c in np.argsort(-(head[q] @ centroids.T), kind="stable")[:NPROBE]
    ]
    probe_df = spark.createDataFrame(probes, "query_id long, cell long")
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("unit").alias("qunit"),
    )
    cand = (
        corpus.join(
            F.broadcast(probe_df.join(q, "query_id")),  # bounded: probe fan-out (N_QUERIES x nprobe rows)
            on=["cell"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("qunit", "unit"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


_EMB_DEDUP_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings WHERE vec_id < 300
),
n AS (SELECT vec_id, label, emb,
             sqrt(list_sum([x * x for x in emb])) AS norm FROM e)
SELECT
    a.vec_id AS vec_a,
    b.vec_id AS vec_b,
    round(
        list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]))
        / (a.norm * b.norm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(
        list_sum(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]))
        / (a.norm * b.norm), 6) >= 0.4
"""


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, thresholded).

    Demo slice (vec_id < 300) runs the exact all-pairs check; at corpus
    scale the identical predicate runs *after* the LSH bucket join
    (similarity_lsh_topk) so only candidates are compared.
    """
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    emb = with_norm(
        emb.select("vec_id", _as_double("embedding").alias("emb"))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b")).select(  # bounded: brute-force baseline op: corpus-sized BY DESIGN; scale path = semdedup/LSH siblings
        "vec_a",
        "vec_b",
        F.round(
            _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= 0.4)


# --------------------------------------------------------------------------
# Per-label centroids — the vector *aggregate* the ANN/IVF path builds on
# --------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH ex AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           unnest(embedding)                 AS x
    FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(pos AS BIGINT)   AS pos,
       CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000.0 AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM ex
GROUP BY 1, 2
"""


@query("embedding_centroids", oracle=_CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label, per-dimension centroid of the embedding column —
    the building block of every distributed k-means / IVF codebook step
    (similarity_ivf_topk trains on exactly this shape).

    Cross-row double addition is order-dependent, so the mean is computed
    in scaled integers (×10⁶, exact for float32 inputs) and divided once —
    both engines produce the identical double. Output is long-form
    (label, pos, centroid): hashing arrays would depend on engine-side
    array rendering; rows don't.

    Scale: posexplode multiplies rows ×64 but the partial aggregation
    collapses them map-side to (labels × dims) rows before the single
    shuffle — state is bounded by the codebook size, not the corpus.
    """
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos0", "x"),
    )
    xc = cents(F.col("x").cast("double"), 6)
    return (
        ex.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            (F.sum(xc).cast("double") / F.count(F.lit(1)) / 1_000_000.0).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster-blocked cosine pruning
# --------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.3

# Embeddings snap to a 1e-6 integer grid before the cosine: every dot
# product becomes a sum of integer-valued float64 products (each <= 3.4e11,
# 64-dim sums <= 2.2e13 -- far inside float64's exact-integer range), so the
# reduction is EXACT in any summation order. That is what lets the kernel
# run as one BLAS matmul per cell in a Pandas UDF while staying bit-equal
# to the DuckDB oracle's sequential list_sum: both compute the same exact
# integers, then the same correctly-rounded sqrt/multiply/divide sequence.

_SEMDEDUP_ORACLE = f"""
WITH u AS (
    SELECT vec_id, label,
           [round(CAST(x AS DOUBLE) * 1000000) for x in embedding] AS iu
    FROM embeddings
),
n AS (SELECT vec_id, label, iu,
             sqrt(list_sum([x * x for x in iu])) AS norm FROM u),
close_pairs AS (
    SELECT b.vec_id AS dup_id
    FROM n a JOIN n b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(
            list_sum(list_transform(list_zip(a.iu, b.iu), p -> p[1] * p[2]))
            / (a.norm * b.norm), 6) >= {_SEMDEDUP_TAU}
),
dup_counts AS (
    SELECT dup_id, COUNT(*) AS n_closer FROM close_pairs GROUP BY dup_id
)
SELECT u.vec_id,
       CAST(u.label AS BIGINT) AS label,
       CAST(coalesce(d.n_closer, 0) AS BIGINT) AS n_closer_dups,
       coalesce(d.n_closer, 0) = 0 AS kept
FROM u LEFT JOIN dup_counts d ON d.dup_id = u.vec_id
"""

_PAIR_SCHEMA = "vec_a long, vec_b long, cos double"


def _int_grid(X):
    """Exact ties-away-from-zero rounding (Spark ROUND / DuckDB round
    semantics) with no intermediate-rounding drift: trunc + exact frac."""
    import numpy as np

    t = np.trunc(X)
    frac = X - t
    return t + np.where(np.abs(frac) >= 0.5, np.sign(X), 0.0)


def _semdedup_cell_pairs(pdf):
    """Per-cell exact cosine kernel: one float64 BLAS matmul over
    integer-grid embeddings (see module note above for why this is
    bit-exact), emitting only near-threshold candidate pairs. The final
    >= tau decision happens Spark-side on F.round(cos, 6), the same
    rounding the oracle applies -- the UDF prefilter at tau - 1e-6 only
    bounds the emitted volume."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["emb"].to_numpy()).astype(np.float64) * 1e6
    U = _int_grid(X)
    G = U @ U.T
    nrm = np.sqrt(np.diag(G))
    C = G / (nrm[:, None] * nrm[None, :])
    ia, ib = np.where(C >= _SEMDEDUP_TAU - 1e-6)
    keep = ids[ia] < ids[ib]
    return pd.DataFrame(
        {
            "vec_a": ids[ia[keep]],
            "vec_b": ids[ib[keep]],
            "cos": C[ia[keep], ib[keep]],
        }
    )


@query("dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: within each embedding
    cluster, a vector is pruned when a lower-id cluster-mate sits above
    cosine {tau} -- keep-the-first over semantic near-duplicate sets,
    the embedding-space analog of the MinHash text tier.

    Scale shape: the pairwise check is BLOCKED BY CLUSTER (here the
    pre-assigned label; at corpus scale the IVF codebook's cell
    assignment plays this role -- dedup_semantic_ivf composes exactly
    that chain end-to-end), so candidate volume is Sigma cell^2, never
    corpus^2; a skewed mega-cell is split into bounded block-pair tasks
    by the blocked kernel (semdedup_prune -- exact, skew-proven at 1M
    rows in tests/test_scale_smoke.py). Round-4 rework: the per-cell
    pairwise kernel
    runs as ONE Arrow-batched BLAS matmul (grouped applyInPandas) on
    integer-grid embeddings instead of a JVM HOF per pair -- 4x faster
    at sf0.1 and still bit-exact against the SQL oracle, because
    integer-valued float64 matmul is exact in any summation order (see
    the module note above). One shuffle on the cell key; only
    near-threshold candidate pairs leave the UDF.

    Output: every vector with its closer-duplicate count and the kept
    verdict (n_closer_dups = 0) -- the keep-list a corpus writer joins
    back against.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("emb")
    )
    pairs = emb.groupBy("label").applyInPandas(
        _semdedup_cell_pairs, _PAIR_SCHEMA
    )
    close = (
        pairs.filter(F.round("cos", 6) >= _SEMDEDUP_TAU)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_closer"))
    )
    return (
        emb.select("vec_id", F.col("label").cast("long").alias("label"))
        .join(close, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("n_closer"), F.lit(0)).cast("long").alias(
                "n_closer_dups"
            ),
            (F.coalesce(F.col("n_closer"), F.lit(0)) == 0).alias("kept"),
        )
    )


dedup_semantic.__doc__ = dedup_semantic.__doc__.format(tau=_SEMDEDUP_TAU)


# --------------------------------------------------------------------------
# IVF-composed SemDeDup with a skew-proof blocked pairwise kernel
# --------------------------------------------------------------------------

# Default per-task row bound for the blocked kernel. Deliberately tiny so
# the MULTI-block path (the part that only matters at scale) is what the
# fixture corpora — and therefore the exact oracle gate — actually
# execute: 500-row corpora over 16 cells split into 2-3 buckets per cell.
# A production corpus would set this to executor-memory-sized blocks
# (e.g. 8192 rows × 64 dims).
_SEMDEDUP_MAX_CELL_ROWS = 16


def _semdedup_block_frame(
    emb: DataFrame, max_rows: int, cell_col: str = "cell"
) -> DataFrame:
    """Replicate cell members into bounded block-pair tasks — the
    skew-split escape hatch for the per-cell pairwise kernel.

    A cell of ``s`` rows is hashed into ``nb = ceil(s / max_rows)``
    buckets; every unordered bucket pair ``(bi <= bj)`` becomes one task
    holding only those two buckets' rows. Each row joins ``nb`` tasks,
    so the shuffled volume is Σ s·nb ≈ Σ s²/max_rows — linear in the
    pairwise WORK, which no exact scheme can beat, while per-task memory
    stays ≤ ~2·max_rows rows no matter how skewed the cells are. A
    uniform corpus (every cell ≤ max_rows) degenerates to nb = 1:
    exactly one task per cell and zero replication, so the escape hatch
    costs nothing when unused.
    """
    sizes = emb.groupBy(cell_col).agg(F.count(F.lit(1)).alias("_n"))
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("_n") / F.lit(int(max_rows)))
    ).cast("int")
    bucketed = emb.join(
        F.broadcast(sizes.select(cell_col, nb.alias("_nb"))), cell_col  # bounded: per-IVF-cell sizes (nlist-bounded)
    ).withColumn("bkt", F.pmod(F.col("vec_id"), F.col("_nb")).cast("int"))
    return (
        bucketed.select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.col("_nb") - F.lit(1))
            ).alias("_other"),
        )
        .withColumn("bi", F.least("bkt", "_other"))
        .withColumn("bj", F.greatest("bkt", "_other"))
    )


def _semdedup_block_pairs(key, pdf):
    """Block-pair cosine kernel: the within-block case defers to
    _semdedup_cell_pairs; the cross-block case is one rectangular BLAS
    matmul between the two buckets' integer-grid matrices. Every
    unordered vector pair of a cell lands in exactly one task, so the
    union over tasks reproduces the unblocked kernel's pair set
    bit-for-bit (same exact integer products, same rounding)."""
    import numpy as np
    import pandas as pd

    bi, bj = int(key[-2]), int(key[-1])
    if bi == bj:
        return _semdedup_cell_pairs(pdf)
    a = pdf[pdf["bkt"] == bi]
    b = pdf[pdf["bkt"] == bj]
    if not len(a) or not len(b):
        return pd.DataFrame(
            {
                "vec_a": np.array([], dtype=np.int64),
                "vec_b": np.array([], dtype=np.int64),
                "cos": np.array([], dtype=np.float64),
            }
        )
    ua = _int_grid(np.stack(a["emb"].to_numpy()).astype(np.float64) * 1e6)
    ub = _int_grid(np.stack(b["emb"].to_numpy()).astype(np.float64) * 1e6)
    G = ua @ ub.T
    na = np.sqrt((ua * ua).sum(axis=1))
    nbn = np.sqrt((ub * ub).sum(axis=1))
    C = G / (na[:, None] * nbn[None, :])
    ia, ib = np.where(C >= _SEMDEDUP_TAU - 1e-6)
    ida = a["vec_id"].to_numpy()[ia]
    idb = b["vec_id"].to_numpy()[ib]
    return pd.DataFrame(
        {
            "vec_a": np.minimum(ida, idb),
            "vec_b": np.maximum(ida, idb),
            "cos": C[ia, ib],
        }
    )


def semdedup_prune(
    emb: DataFrame, max_rows: int, block_observation=None
) -> DataFrame:
    """Cell-blocked SemDeDup prune over ``(vec_id, cell, emb)`` with the
    blocked (skew-split) kernel: every vector with its closer-duplicate
    count and kept verdict. Exact — blocking changes scheduling, never
    the pair set.

    ``block_observation``: optional ``pyspark.sql.Observation``
    attaching a ``replicated`` count metric to the block task frame
    INSIDE this kernel's own plan, so the Σ s·nb shuffle-volume
    invariant is measured on the executed prune, not on a separately
    built twin of the frame."""
    rep = _semdedup_block_frame(emb, max_rows)
    if block_observation is not None:
        rep = rep.observe(
            block_observation, F.count(F.lit(1)).alias("replicated")
        )
    pairs = rep.groupBy("cell", "bi", "bj").applyInPandas(
        _semdedup_block_pairs, _PAIR_SCHEMA
    )
    close = (
        pairs.filter(F.round("cos", 6) >= _SEMDEDUP_TAU)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_closer"))
    )
    return (
        emb.select("vec_id", F.col("cell").cast("long").alias("cell"))
        .join(close, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("n_closer"), F.lit(0)).cast("long").alias(
                "n_closer_dups"
            ),
            (F.coalesce(F.col("n_closer"), F.lit(0)) == 0).alias("kept"),
        )
    )


_SEMDEDUP_IVF_ORACLE = f"""{_IVF_CELL_CTES},
g AS (
    SELECT vec_id,
           [round(CAST(x AS DOUBLE) * 1000000) for x in embedding] AS iu
    FROM embeddings
),
gn AS (SELECT vec_id, iu, sqrt(list_sum([x * x for x in iu])) AS norm
       FROM g),
m AS (SELECT ca.vec_id, ca.cell, gn.iu, gn.norm
      FROM cassign ca JOIN gn USING (vec_id)),
close_pairs AS (
    SELECT b.vec_id AS dup_id
    FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(
            list_sum(list_transform(list_zip(a.iu, b.iu), p -> p[1] * p[2]))
            / (a.norm * b.norm), 6) >= {_SEMDEDUP_TAU}
),
dup_counts AS (
    SELECT dup_id, COUNT(*) AS n_closer FROM close_pairs GROUP BY dup_id
)
SELECT m.vec_id,
       CAST(m.cell AS BIGINT) AS cell,
       CAST(coalesce(d.n_closer, 0) AS BIGINT) AS n_closer_dups,
       coalesce(d.n_closer, 0) = 0 AS kept
FROM m LEFT JOIN dup_counts d ON d.dup_id = m.vec_id
"""


@query("dedup_semantic_ivf", oracle=_SEMDEDUP_IVF_ORACLE)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composed END-TO-END the way a corpus-scale run works:
    the IVF coarse quantizer's deterministic cell assignment
    (_ivf_codebook — the similarity_ivf_topk codebook, memoized) plays
    the blocking role that ``dedup_semantic`` delegates to the
    pre-assigned label, and the within-cell prune runs through the
    BLOCKED kernel, so a skewed mega-cell is split into bounded
    block-pair tasks instead of landing on one worker.

    The oracle replays the identical chain in SQL: the shared IVF
    train→assign CTEs produce ``cassign``, then the SemDeDup prune runs
    within those cells on the 1e-6 integer grid (exact in any summation
    order — module note above). _SEMDEDUP_MAX_CELL_ROWS is deliberately
    fixture-tiny so the hash gate exercises the multi-block path, not
    the nb=1 degenerate case.

    Output: every vector with its IVF cell, closer-duplicate count, and
    kept verdict — the keep-list a corpus writer joins back against.
    """
    raw = table(spark, sf_dir, "embeddings")
    head, centroids = _ivf_codebook(spark, sf_dir, raw)
    # Cells are LABELED by their seed vector's vec_id (the oracle's
    # seedids CTE does the same), not by centroid index: the two only
    # coincide when vec_ids are contiguous from 0 — the halved off-grid
    # twin (even ids only) caught exactly that hidden assumption.
    seed_ids = sorted(head)[:N_CENTROIDS]
    # Lazy localCheckpoint — the blocked prune kernel references this
    # assigned-corpus frame many times (per-block self-join sides,
    # medoid pass, dup-count join), and Catalyst duplicated the two
    # chained Arrow UDFs into TEN ArrowEvalPython corpus passes per
    # execution (guide §4.4/§5). Materialized once, it is the same
    # (vectors + cell) index artifact `_ivf_cells` persists.
    emb = (
        raw.select(
            "vec_id",
            _as_double("embedding").alias("emb"),
            _unit_udf()("embedding").alias("unit"),
        )
        .withColumn("_ci", _assign_udf(centroids)("unit"))
        .withColumn(
            "cell",
            F.element_at(
                F.lit(seed_ids), F.col("_ci").cast("int") + 1
            ).cast("long"),
        )
        .drop("unit", "_ci")
        .localCheckpoint(eager=False)
    )
    return semdedup_prune(emb, _SEMDEDUP_MAX_CELL_ROWS)


# --------------------------------------------------------------------------
# Int8 scalar quantization — embedding storage compression + error audit
# --------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cell AS (
    SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS x
    FROM e, unnest(generate_series(1, len(embedding))) i(i)
),
d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM cell GROUP BY pos),
q AS (
    SELECT c.vec_id, c.pos, c.x, d.mn, (d.mx - d.mn) / 255.0 AS sc
    FROM cell c JOIN d USING (pos)
),
codes AS (
    SELECT vec_id, pos, x, mn, sc,
           CASE WHEN sc = 0 THEN 0
                ELSE CAST(floor((x - mn) / sc + 0.5) AS BIGINT) END AS code
    FROM q
),
scored AS (
    SELECT vec_id, pos, code,
           CASE WHEN sc = 0 THEN 0.0 ELSE x - (mn + code * sc) END AS err
    FROM codes
)
SELECT vec_id,
       CAST(SUM(code * pos) AS BIGINT) AS code_checksum,
       CAST(SUM(CAST(round(err * err * 1e12) AS BIGINT)) / 1e12 / 64.0
            AS DOUBLE) AS mse
FROM scored GROUP BY vec_id
"""


@query("embedding_quantize_int8", oracle=_QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus — the 4×
    storage/bandwidth compression every 100 TB vector store applies
    before ANN serving (per-dimension min/max affine codes, the
    faiss-style SQ8 recipe).

    Plan: one posexplode pass aggregates the 64 per-dimension (min, max)
    ranges — state is O(dims), collapsing map-side; the ranges come back
    as ONE broadcast row of sorted arrays, and quantization runs
    IN-ROW (arrays_zip + transform — whole-stage codegen, no Python, no
    second shuffle). Each vector emits its integer code checksum
    (position-weighted — proves all 64 codes bit-equal without 64
    columns) and its reconstruction MSE with per-dimension pico-unit
    rounding before the sum, so the only floating summation is
    order-fixed integer addition. Constant dimensions quantize to code
    0 with zero error rather than dividing by zero.
    """
    e = table(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    dims = cells.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    ranges = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("maxs"),
    )
    zipped = (
        e.join(F.broadcast(ranges))  # bounded: per-dimension constants (d-bounded)
        .select(
            "vec_id",
            F.arrays_zip(
                F.transform("embedding", lambda v: v.cast("double")).alias(
                    "x"
                ),
                F.col("mins").alias("mn"),
                F.col("maxs").alias("mx"),
            ).alias("z"),
        )
    )
    sc = lambda s: (s["mx"] - s["mn"]) / 255.0  # noqa: E731
    code = lambda s: F.when(sc(s) == 0, F.lit(0).cast("long")).otherwise(  # noqa: E731
        F.floor((s["x"] - s["mn"]) / sc(s) + 0.5)
    )
    err = lambda s: F.when(sc(s) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        s["x"] - (s["mn"] + code(s) * sc(s))
    )
    checksum = F.aggregate(
        F.transform("z", lambda s, i: code(s) * (i + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pico = F.aggregate(
        F.transform(
            "z", lambda s: F.round(err(s) * err(s) * 1e12).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return zipped.select(
        "vec_id",
        checksum.alias("code_checksum"),
        (pico / 1e12 / 64.0).cast("double").alias("mse"),
    )


# --------------------------------------------------------------------------
# SQ8 serving: top-k inner product against the QUANTIZED corpus
# --------------------------------------------------------------------------

_SQ8_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cell AS (
    SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS x
    FROM e, unnest(generate_series(1, len(embedding))) i(i)
),
d AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM cell GROUP BY pos),
recon AS (
    SELECT c.vec_id, c.pos,
           CASE WHEN (d.mx - d.mn) = 0 THEN d.mn
                ELSE d.mn + floor((c.x - d.mn) / ((d.mx - d.mn) / 255.0)
                                  + 0.5) * ((d.mx - d.mn) / 255.0)
           END AS xr
    FROM cell c JOIN d USING (pos)
),
qv AS (
    SELECT vec_id AS query_id, pos, x AS qx
    FROM cell WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT qv.query_id, r.vec_id AS neighbor_id,
           SUM(CAST(round(qv.qx * r.xr * 1e9) AS BIGINT)) AS nano
    FROM qv JOIN recon r ON qv.pos = r.pos AND r.vec_id <> qv.query_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(nano / 1e9 AS DOUBLE) AS ip
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY nano DESC, neighbor_id) AS rn
    FROM scored
) WHERE rn <= {TOP_K}
"""


@query("similarity_sq8_topk", oracle=_SQ8_ORACLE)
def similarity_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: the SERVING side of int8 quantization — top-k by inner
    product where the corpus lives as SQ8 codes and only the query stays
    float (asymmetric distance computation, the faiss ADC recipe). Pairs
    with embedding_quantize_int8 the way dedup_minhash_verify pairs with
    the LSH candidates: compression, then the query path that consumes
    it.

    Plan shape mirrors similarity_topk_brute: per-dim ranges come back
    as one broadcast row, corpus vectors reconstruct IN-ROW from their
    codes (zip/transform — codegen), the 5 float query vectors broadcast
    into a nested-loop scoring pass, and per-query top-k ranks on the
    INTEGER nano-unit inner product (per-dimension rounding before the
    in-row sum — ranking ties are integer-exact, so the oracle's order
    matches bit-for-bit). The corpus is scanned once; nothing shuffles
    but the per-query top-k dust.
    """
    e = table(spark, sf_dir, "embeddings")
    cells = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "pos", F.col("xf").cast("double").alias("x"))
    dims = cells.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    ranges = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("maxs"),
    )
    dbl = F.transform("embedding", lambda v: v.cast("double"))
    zipped = e.join(F.broadcast(ranges)).select(  # bounded: per-dimension constants (d-bounded)
        "vec_id",
        F.arrays_zip(
            dbl.alias("x"), F.col("mins").alias("mn"), F.col("maxs").alias("mx")
        ).alias("z"),
    )
    sc = lambda s: (s["mx"] - s["mn"]) / 255.0  # noqa: E731
    xr = lambda s: F.when(sc(s) == 0, s["mn"]).otherwise(  # noqa: E731
        s["mn"] + F.floor((s["x"] - s["mn"]) / sc(s) + 0.5) * sc(s)
    )
    corpus = zipped.select(
        "vec_id", F.transform("z", xr).alias("recon")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), dbl.alias("qemb")
    )
    nano = F.aggregate(
        F.zip_with(
            "qemb", "recon", lambda a, b: F.round(a * b * 1e9).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = corpus.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")  # bounded: query/probe-set dust (N_QUERIES-bounded)
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        nano.alias("nano"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("nano").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("nano") / 1e9).cast("double").alias("ip"),
        )
    )


# --------------------------------------------------------------------------
# Per-class embedding scatter — labeled-dataset health report
# --------------------------------------------------------------------------

_SCATTER_SCALE = 100_000  # 1e5: float32 inputs < 1.0, so e <= ~1e5;
# e^2 <= ~1e10 and per-(label,dim) sums clear bigint far past sf1000.

_SCATTER_ORACLE = f"""
WITH elems AS (
    SELECT label, i.i AS dim,
           CAST(round(embedding[i.i] * {_SCATTER_SCALE}) AS BIGINT) AS e
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS i(i)
),
cells AS (
    SELECT label, dim,
           CAST(SUM(e) AS BIGINT) AS s,
           CAST(SUM(e * e) AS BIGINT) AS q,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM elems GROUP BY 1, 2
),
contrib AS (
    SELECT label, n,
           CAST(round((q - CAST(s AS DOUBLE) * s / n) * 1000000
                      / ({_SCATTER_SCALE} * {_SCATTER_SCALE}.0))
                AS BIGINT) AS scatter_micro
    FROM cells
)
SELECT CAST(label AS INT) AS label,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       CAST(SUM(scatter_micro) / 1000000.0 AS DOUBLE)
           AS within_class_scatter,
       CAST(SUM(scatter_micro) / 1000000.0 / MAX(n) AS DOUBLE)
           AS avg_scatter
FROM contrib
GROUP BY label
ORDER BY label
"""


@query("embedding_class_scatter", oracle=_SCATTER_ORACLE)
def embedding_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-embedding-dataset health: the within-class scatter
    (sum of squared deviations from the class centroid) per label,
    computed WITHOUT materializing a centroid or a second pass —
    Σ‖x−c‖² = Σ_d (Q_d − S_d²/n) from per-(label,dim) running sums
    S and Q, the one-pass variance identity distributed over dims.
    A collapsing class (scatter → 0) or an exploding one stands out
    immediately; this is the screen run before trusting labels for
    class-balanced sampling or semantic dedup thresholds.

    Scale shape: posexplode → ONE partial-aggregated shuffle onto
    O(labels × dims) cells; everything after operates on that
    dust-sized table. Exactness: elements scale to 1e5-unit integers
    (S, Q exact bigints safe past sf1000 — bound documented above);
    each dim's scatter term does its two IEEE ops then rounds to
    micro-units BEFORE the cross-dim sum (the PSI/perplexity
    discipline), so float addition order never leaks into the hash.
    """
    emb = table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x") * _SCATTER_SCALE).cast("long").alias("e"),
    )
    cells = elems.groupBy("label", "dim").agg(
        F.sum("e").alias("s"),
        F.sum(F.col("e") * F.col("e")).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    contrib = cells.select(
        "label",
        "n",
        F.round(
            (
                F.col("q")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            * 1_000_000
            / (_SCATTER_SCALE * float(_SCATTER_SCALE))
        )
        .cast("long")
        .alias("scatter_micro"),
    )
    return (
        contrib.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            (F.sum("scatter_micro") / 1_000_000.0)
            .cast("double")
            .alias("within_class_scatter"),
            (F.sum("scatter_micro") / 1_000_000.0 / F.max("n"))
            .cast("double")
            .alias("avg_scatter"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            "within_class_scatter",
            "avg_scatter",
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Class separability — between-class scatter and Fisher-style ratio
# --------------------------------------------------------------------------

_FISHER_ORACLE = f"""
WITH elems AS (
    SELECT label, i.i AS dim,
           CAST(round(embedding[i.i] * {_SCATTER_SCALE}) AS BIGINT) AS e
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS i(i)
),
cells AS (
    SELECT label, dim,
           CAST(SUM(e) AS BIGINT) AS s,
           CAST(SUM(e * e) AS BIGINT) AS q,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM elems GROUP BY 1, 2
),
globals AS (
    SELECT dim, CAST(SUM(s) AS BIGINT) AS gs, CAST(SUM(n) AS BIGINT) AS gn
    FROM cells GROUP BY 1
),
within AS (
    SELECT label, n,
           CAST(round((q - CAST(s AS DOUBLE) * s / n) * 1000000
                      / ({_SCATTER_SCALE} * {_SCATTER_SCALE}.0))
                AS BIGINT) AS w_micro
    FROM cells
),
between_c AS (
    SELECT c.label,
           CAST(round(c.n * (CAST(c.s AS DOUBLE) / c.n
                             - CAST(g.gs AS DOUBLE) / g.gn)
                          * (CAST(c.s AS DOUBLE) / c.n
                             - CAST(g.gs AS DOUBLE) / g.gn) * 1000000
                      / ({_SCATTER_SCALE} * {_SCATTER_SCALE}.0))
                AS BIGINT) AS b_micro
    FROM cells c JOIN globals g USING (dim)
)
SELECT CAST(w.label AS INT) AS label,
       CAST(MAX(w.n) AS BIGINT) AS n_vecs,
       CAST(SUM(w.w_micro) / 1000000.0 AS DOUBLE) AS within_scatter,
       CAST(MAX(b.b_total) / 1000000.0 AS DOUBLE) AS between_scatter,
       CAST(CAST(MAX(b.b_total) AS DOUBLE) / SUM(w.w_micro) AS DOUBLE)
           AS separability
FROM within w
JOIN (SELECT label, CAST(SUM(b_micro) AS BIGINT) AS b_total
      FROM between_c GROUP BY 1) b USING (label)
GROUP BY w.label
ORDER BY label
"""


@query("embedding_fisher_ratio", oracle=_FISHER_ORACLE)
def embedding_fisher_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class separability, the other half of the embedding health
    report: per label, the BETWEEN-class scatter (n·‖c_label − c_global‖²)
    against the within-class scatter, and their Fisher-style ratio — a
    label whose classes overlap in embedding space (ratio → 0) will
    poison any semantic-dedup threshold or class-balanced sample drawn
    from it.

    Scale shape: the same labels×dims cell table as
    embedding_class_scatter; the global centroid re-aggregates the
    CELLS (never the corpus) and joins back on dim. Exactness: both
    scatter terms follow the micro-round-before-sum discipline, and
    the final ratio is one IEEE division of the two exact totals.
    """
    emb = table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x") * _SCATTER_SCALE).cast("long").alias("e"),
    )
    cells = elems.groupBy("label", "dim").agg(
        F.sum("e").alias("s"),
        F.sum(F.col("e") * F.col("e")).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    globals_ = cells.groupBy("dim").agg(
        F.sum("s").alias("gs"), F.sum("n").alias("gn")
    )
    scale2 = _SCATTER_SCALE * float(_SCATTER_SCALE)
    within = cells.select(
        "label",
        "n",
        F.round(
            (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            * 1_000_000
            / scale2
        )
        .cast("long")
        .alias("w_micro"),
    )
    diff = (
        F.col("s").cast("double") / F.col("n")
        - F.col("gs").cast("double") / F.col("gn")
    )
    between = (
        cells.join(globals_, "dim")
        .select(
            "label",
            F.round(F.col("n") * diff * diff * 1_000_000 / scale2)
            .cast("long")
            .alias("b_micro"),
        )
        .groupBy("label")
        .agg(F.sum("b_micro").alias("b_total"))
    )
    return (
        within.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum("w_micro").alias("w_total"),
        )
        .join(between, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            (F.col("w_total") / 1_000_000.0)
            .cast("double")
            .alias("within_scatter"),
            (F.col("b_total") / 1_000_000.0)
            .cast("double")
            .alias("between_scatter"),
            (F.col("b_total").cast("double") / F.col("w_total"))
            .cast("double")
            .alias("separability"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Label-outlier detection — farthest vectors from their class centroid
# --------------------------------------------------------------------------

_OUTLIER_TOPK = 3

_OUTLIER_ORACLE = f"""
WITH elems AS (
    SELECT vec_id, label, i.i AS dim,
           CAST(round(embedding[i.i] * {_SCATTER_SCALE}) AS BIGINT) AS e
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS i(i)
),
cells AS (
    SELECT label, dim, CAST(SUM(e) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM elems GROUP BY 1, 2
),
label_const AS (
    SELECT label, CAST(SUM(s * s) AS BIGINT) AS csq, MAX(n) AS n
    FROM cells GROUP BY 1
),
per_vec AS (
    SELECT e.vec_id, e.label,
           CAST(SUM(e.e * e.e) AS BIGINT) AS qv,
           CAST(SUM(e.e * c.s) AS BIGINT) AS dot
    FROM elems e JOIN cells c ON c.label = e.label AND c.dim = e.dim
    GROUP BY 1, 2
),
dists AS (
    SELECT v.vec_id, v.label,
           CAST(round((v.qv - 2.0 * v.dot / l.n
                       + CAST(l.csq AS DOUBLE) / l.n / l.n)
                      * 1000000
                      / ({_SCATTER_SCALE} * {_SCATTER_SCALE}.0))
                AS BIGINT) AS dist2_micro
    FROM per_vec v JOIN label_const l USING (label)
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY label
                                 ORDER BY dist2_micro DESC, vec_id) AS rk
    FROM dists
)
SELECT CAST(label AS INT) AS label, CAST(rk AS INT) AS rank,
       vec_id, CAST(dist2_micro / 1000000.0 AS DOUBLE) AS dist2
FROM ranked WHERE rk <= {_OUTLIER_TOPK}
ORDER BY label, rank
"""


@query("embedding_label_outliers", oracle=_OUTLIER_ORACLE)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-example screen: the {k} vectors farthest from their
    class centroid per label, by squared distance expanded as
    ‖v‖² − 2⟨v,S⟩/n + ‖S‖²/n² — the centroid is never materialized as
    a vector; per-vector terms come from joining elements against the
    labels×dims cell table (dust-sized → broadcast), and the label
    constants (‖S‖², n) re-aggregate the cells. These are the examples
    a labeling-quality pass sends back for human review.

    Scale shape: two passes over the exploded elements (cell build,
    then the broadcast-join dot products), each a partial-aggregated
    shuffle; the rank runs per label over the corpus-sized distance
    table — one more shuffle, top-{k} per group. Distances micro-round
    before ranking so ordering (and the hash) is engine-exact.
    """
    emb = table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x") * _SCATTER_SCALE).cast("long").alias("e"),
    )
    cells = elems.groupBy("label", "dim").agg(
        F.sum("e").alias("s"), F.count(F.lit(1)).alias("n")
    )
    label_const = cells.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("csq"), F.max("n").alias("n")
    )
    per_vec = (
        elems.join(F.broadcast(cells), ["label", "dim"])  # bounded: per-dimension constants (d-bounded)
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("e") * F.col("e")).alias("qv"),
            F.sum(F.col("e") * F.col("s")).alias("dot"),
        )
    )
    scale2 = _SCATTER_SCALE * float(_SCATTER_SCALE)
    dists = per_vec.join(F.broadcast(label_const), "label").select(  # bounded: enum/bucket-keyed rollup (bounded group count)
        "vec_id",
        "label",
        F.round(
            (
                F.col("qv")
                - 2.0 * F.col("dot") / F.col("n")
                + F.col("csq").cast("double") / F.col("n") / F.col("n")
            )
            * 1_000_000
            / scale2
        )
        .cast("long")
        .alias("dist2_micro"),
    )
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.col("dist2_micro").desc(), "vec_id"
        )
    )
    return (
        dists.withColumn("rank", rk)
        .filter(F.col("rank") <= _OUTLIER_TOPK)
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            (F.col("dist2_micro") / 1_000_000.0)
            .cast("double")
            .alias("dist2"),
        )
        .orderBy("label", "rank")
    )


embedding_label_outliers.__doc__ = embedding_label_outliers.__doc__.format(
    k=_OUTLIER_TOPK
)


# --------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (PQ-ADC)
# --------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 × 16 = the 64-dim embedding)
_PQ_K = 16       # centroids per sub-codebook → 4 bits/subspace


def pq_encode_udf(cb):
    """Arrow-batched PQ encoder for a fixed sub-codebook list.

    ``cb[m]`` is the (K × SUBDIM) float64 array for subspace m; the
    returned pandas UDF maps a full-dimension vector column to its
    ``len(cb)`` nearest-sub-centroid codes. One BLAS-ish pass per batch;
    np.argmin takes the FIRST minimum, matching the oracle twins'
    ORDER BY d2, c tie-break. Shared by the registry PQ queries and the
    volume suite (tests/test_scale_smoke.py), so the exact kernel the
    bench runs is the one the closed-form 5M-row proof exercises.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_sub = len(cb)
    subdim = cb[0].shape[1]

    @pandas_udf(ArrayType(LongType()))
    def encode(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        out = np.empty((mat.shape[0], n_sub), dtype=np.int64)
        for m in range(n_sub):
            sub = mat[:, m * subdim : (m + 1) * subdim]
            d2 = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
            out[:, m] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return encode

# Deterministic like the IVF path: sub-codebooks seed from the first
# _PQ_K vectors' subvectors (no Lloyd refinement — the k-means seam is
# already demonstrated distributed in similarity_ivf_topk and would
# compose here per-subspace unchanged), encode ties break on lowest
# centroid id (np.argmin ≡ ORDER BY d2, c), ADC scores round to 6 dp
# before ranking. Double-summation drift across engines sits far below
# both the argmin margins and the rounding grain on the test data.
_PQ_CTES = f"""e AS (
    SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
    FROM embeddings
),
n AS (SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS norm FROM e),
u AS (SELECT vec_id, list_transform(emb, x -> x / norm) AS unit FROM n),
subs AS (SELECT m FROM generate_series(0, {_PQ_M - 1}) t(m)),
dims AS (SELECT d FROM generate_series(0, {_PQ_SUBDIM - 1}) t(d)),
seedids AS (SELECT vec_id FROM u ORDER BY vec_id LIMIT {_PQ_K}),
cb AS (
    SELECT s.m, seeds.vec_id AS c, d.d,
           seeds.unit[s.m * {_PQ_SUBDIM} + d.d + 1] AS w
    FROM u seeds JOIN seedids USING (vec_id)
    CROSS JOIN subs s CROSS JOIN dims d
),
dist AS (
    SELECT uu.vec_id, cb.m, cb.c,
           SUM((uu.unit[cb.m * {_PQ_SUBDIM} + cb.d + 1] - cb.w)
               * (uu.unit[cb.m * {_PQ_SUBDIM} + cb.d + 1] - cb.w)) AS d2
    FROM u uu CROSS JOIN cb GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, m, c AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2, c) AS rn
        FROM dist) WHERE rn = 1
),
lut AS (
    SELECT q.vec_id AS query_id, cb.m, cb.c,
           SUM(q.unit[cb.m * {_PQ_SUBDIM} + cb.d + 1] * cb.w) AS dp
    FROM u q CROSS JOIN cb
    WHERE q.vec_id < {N_QUERIES}
    GROUP BY 1, 2, 3
),
adc AS (
    SELECT l.query_id, cd.vec_id AS neighbor_id,
           round(SUM(l.dp), 6) AS adc_score
    FROM codes cd
    JOIN lut l ON l.m = cd.m AND l.c = cd.code
    WHERE cd.vec_id <> l.query_id
    GROUP BY l.query_id, cd.vec_id
)"""

_PQ_ORACLE = f"""
WITH {_PQ_CTES}
SELECT query_id, neighbor_id, adc_score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_score DESC, neighbor_id) AS rn
    FROM adc)
WHERE rn <= {TOP_K}
"""


@query("similarity_pq_adc_topk", oracle=_PQ_ORACLE)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16, product-quantization tier (Jégou, Douze & Schmid 2011,
    public): each unit vector compresses to {m} sub-codes of
    log2({k}) bits — {bits} bits per vector instead of {full} bytes —
    and queries score candidates with ASYMMETRIC distance computation:
    the exact query subvector dotted against each sub-centroid once
    into a {m}×{k} lookup table, so scoring a candidate is {m} table
    lookups + adds, never a {d}-dim float op. This is the memory tier
    between SQ8 (1 byte/dim) and IVF cell pruning, and composes with
    IVF in production (IVF-PQ) — the cell stage is similarity_ivf_topk
    unchanged.

    Scale shape: the sub-codebook is {k}×{d} floats collected once from
    a vec_id-pushdown scan (never the corpus) and broadcast inside the
    encode UDF — one Arrow/BLAS pass over the corpus emits the codes,
    zero shuffles. Scoring joins the code column against the per-query
    LUT — here a literal nested-array expression compiled into the
    plan (320 doubles), so candidate scoring is whole-stage-codegen
    lookups with a 5-row broadcast fan-out, and the per-query top-{tk}
    is the standard bounded window. At 100 TB the corpus never
    materializes anything wider than {m} bytes of codes per row —
    that IS product quantization's contract.
    """
    scored = _pq_adc_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_score")
    )


def _pq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (query_id, neighbor_id, adc_score) PQ-ADC candidate scores —
    the shared stage behind similarity_pq_adc_topk (top-k directly) and
    similarity_pq_rerank_topk (ADC shortlist -> exact re-rank)."""
    import numpy as np

    raw = table(spark, sf_dir, "embeddings")

    def units(df):
        return df.select("vec_id", _unit_udf()("embedding").alias("unit"))

    # Bounded collect of the max(K, queries) SMALLEST vec_ids
    # (TakeOrderedAndProject); seeds are the K smallest — == ids 0..K-1
    # on contiguous corpora, robust to gaps (the IVF tier's rule;
    # oracle twin: seedids CTE).
    head = {
        int(r["vec_id"]): np.array(r["unit"], dtype=np.float64)
        for r in units(
            raw.orderBy("vec_id").limit(max(_PQ_K, N_QUERIES))
        ).collect()
    }
    seed_ids = sorted(head)[:_PQ_K]
    if len(seed_ids) < _PQ_K:
        raise ValueError(
            f"PQ needs {_PQ_K} seed vectors; corpus has {len(head)}"
        )
    seeds = np.stack([head[i] for i in seed_ids])
    # Query ids: whatever exists below N_QUERIES (value-based, matching
    # the oracle's WHERE vec_id < N_QUERIES); the LUT literal is indexed
    # by POSITION in this sorted list, carried as qidx.
    qids = sorted(i for i in head if i < N_QUERIES)
    # cb[m]: _PQ_K × _PQ_SUBDIM sub-codebook for subspace m
    cb = [
        seeds[:, m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
        for m in range(_PQ_M)
    ]

    # Lazy localCheckpoint: the (vec_id, codes) table IS the PQ index a
    # real deployment persists (~M bytes/vector). Unmaterialized, the
    # two chained Arrow UDFs (normalize + encode) re-evaluated once per
    # downstream reference — 2 evals in the ADC plan, 6 in the rerank
    # plan (guide §4.4/§5); materialized, every execution pays exactly
    # one encode pass and the ADC scan reads codes only.
    codes = (
        units(raw)
        .select("vec_id", pq_encode_udf(cb)("unit").alias("codes"))
        .localCheckpoint(eager=False)
    )

    # LUT[q][m][c] = dot(query subvector, sub-centroid) — 5×4×16 doubles,
    # compiled into the plan as a literal nested array. Generated as ONE
    # SQL text (r13, guide §5 driver overhead): the nested-F.lit
    # construction cost ~1000 py4j round trips per build; repr() emits
    # the shortest decimal that round-trips to the identical double and
    # the D suffix pins the SQL literal to DOUBLE, so the parsed plan is
    # bit-identical to the Column version.
    lut_sql = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array("
                + ", ".join(
                    repr(
                        float(
                            head[q][m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
                            @ cb[m][c]
                        )
                    )
                    + "D"
                    for c in range(_PQ_K)
                )
                + ")"
                for m in range(_PQ_M)
            )
            + ")"
            for q in qids
        )
        + ")"
    )
    adc_sql = (
        "round("
        + " + ".join(
            f"element_at(element_at(element_at({lut_sql}, qidx + 1), "
            f"{m + 1}), CAST(element_at(codes, {m + 1}) + 1 AS INT))"
            for m in range(_PQ_M)
        )
        + ", 6)"
    )
    queries = spark.createDataFrame(
        [(q, i) for i, q in enumerate(qids)], "query_id long, qidx int"
    )
    scored = (
        codes.crossJoin(F.broadcast(queries))  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(adc_sql).alias("adc_score"),
        )
    )
    return scored


similarity_pq_adc_topk.__doc__ = similarity_pq_adc_topk.__doc__.format(
    m=_PQ_M,
    k=_PQ_K,
    bits=_PQ_M * 4,
    full=64 * 4,
    d=_PQ_SUBDIM,
    tk=TOP_K,
)


# --------------------------------------------------------------------------
# PQ shortlist → exact re-rank (FAISS's IVFPQ + refine recipe)
# --------------------------------------------------------------------------

_RERANK_DEPTH = 30  # ADC shortlist size per query fed to the exact stage

_PQ_RERANK_ORACLE = f"""
WITH {_PQ_CTES},
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_score DESC, neighbor_id)
            AS rn
        FROM adc)
    WHERE rn <= {_RERANK_DEPTH}
),
exact AS (
    SELECT s.query_id, s.neighbor_id,
           round(list_sum(list_transform(list_zip(qu.unit, nu.unit),
                 p -> p[1] * p[2])), 6) AS cosine
    FROM shortlist s
    JOIN u qu ON qu.vec_id = s.query_id
    JOIN u nu ON nu.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM exact)
WHERE rn <= {TOP_K}
"""


@query("similarity_pq_rerank_topk", oracle=_PQ_RERANK_ORACLE)
def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN — the FAISS IVFPQ+refine recipe that production
    vector search actually ships: the compressed PQ-ADC index proposes
    a per-query shortlist of {depth} candidates cheaply ({m} table
    lookups per candidate), then ONLY the shortlist is re-scored with
    exact full-precision cosine and the final top-{tk} ranks on the
    exact score. The refine stage repairs quantization error at a cost
    of queries×{depth} exact dot products — independent of corpus
    size — which is why every serving stack pairs a compressed
    first-pass with an exact (or higher-precision) re-rank.

    Determinism: both stages rank with explicit (score DESC, id) ties,
    so shortlist membership and the final order replay exactly in the
    oracle (the shared _PQ_CTES fragment ensures the ADC stage IS the
    similarity_pq_adc_topk pipeline, not a reimplementation).

    Scale shape: stage 1 is the PQ plan unchanged (codes-only corpus
    scan, LUT lookups in codegen, bounded per-query window); stage 2
    joins the queries×{depth} shortlist — dust at any corpus size —
    against the unit vectors by id (one keyed lookup join that touches
    {depth} rows per query, NOT a corpus scan) and re-ranks in a
    bounded window. At 100 TB the exact stage reads only the
    shortlisted vectors' rows.
    """
    scored = _pq_adc_scored(spark, sf_dir)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= _RERANK_DEPTH)
        .select("query_id", "neighbor_id")
    )

    raw = table(spark, sf_dir, "embeddings")
    # One normalize pass (lazy localCheckpoint), referenced by both the
    # query side and the neighbor side of the refine join — the
    # persisted full-precision refine store of FAISS's IVFPQ+refine;
    # unmaterialized it was two more ArrowEvalPython corpus passes.
    units = raw.select(
        "vec_id", _unit_udf()("embedding").alias("unit")
    ).localCheckpoint(eager=False)
    q_units = units.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("qunit")
    )
    exact = (
        shortlist.join(F.broadcast(q_units), "query_id")  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .join(
            units.select(
                F.col("vec_id").alias("neighbor_id"), "unit"
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot("qunit", "unit"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


similarity_pq_rerank_topk.__doc__ = similarity_pq_rerank_topk.__doc__.format(
    depth=_RERANK_DEPTH, m=_PQ_M, tk=TOP_K
)


# --------------------------------------------------------------------------
# kNN auto-labeling: hold-out classification accuracy by cosine vote
# --------------------------------------------------------------------------

_KNN_K = 5
_KNN_CAP = 10_000  # hold-out = vec_id % 10 == 0 AND vec_id < CAP: bounded

_KNN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label,
           [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
            for x in embedding] AS iu
    FROM embeddings
),
n AS (
    SELECT vec_id, label, iu,
           sqrt(list_sum([CAST(v AS DOUBLE) * v for v in iu])) AS norm
    FROM e
),
test AS (
    SELECT vec_id AS query_id, label AS true_label,
           iu AS qiu, norm AS qnorm
    FROM n WHERE vec_id % 10 = 0 AND vec_id < {_KNN_CAP}
),
train AS (SELECT * FROM n WHERE NOT (vec_id % 10 = 0 AND vec_id < {_KNN_CAP})),
pairs AS (
    SELECT t.query_id, t.true_label, r.vec_id AS neighbor_id,
           r.label AS neighbor_label,
           round(
               list_sum(list_transform(list_zip(t.qiu, r.iu),
                                       p -> CAST(p[1] AS DOUBLE) * p[2]))
               / (t.qnorm * r.norm), 6) AS cosine
    FROM test t CROSS JOIN train r
),
topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn
        FROM pairs
    ) WHERE rn <= {_KNN_K}
),
votes AS (
    SELECT query_id, true_label, neighbor_label, COUNT(*) AS v
    FROM topk GROUP BY 1, 2, 3
),
pred AS (
    SELECT query_id, true_label, neighbor_label AS pred_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY v DESC, neighbor_label) AS pr
        FROM votes
    ) WHERE pr = 1
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct
FROM pred GROUP BY true_label
"""


@query("embedding_knn_classify", oracle=_KNN_ORACLE)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN auto-labeling evaluated in-engine: a deterministic BOUNDED
    hold-out (vec_id % 10 = 0 and vec_id < {cap} — O(1) queries at any
    corpus size, so the query side can always be collected/broadcast)
    is classified by majority vote of its {k} nearest train neighbors
    by cosine, and per-class accuracy comes back as (label, n_test,
    n_correct) — the label-propagation quality check a training-data
    pipeline runs before trusting auto-labels at scale.

    Scoring runs on the INTEGER GRID (iu = round(1e6·x)): per-term
    products stay below 2^53, so every partial dot/norm² sum is an
    exact integer whether accumulated by numpy int64 matmul, a SQL
    left fold, or any partitioning — true order-independence, the
    dedup_semantic BLAS discipline. The corpus side is ONE mapInPandas
    pass (n×64 @ 64×q int64 BLAS per batch, per-partition top-{k} per
    query emitted — candidates bounded at tasks·q·{k} rows); the global
    top-{k}, vote, and argmax run on that dust. The corpus never
    shuffles and never broadcasts. Ties pinned everywhere (neighbor
    rank by vec_id, vote argmax by label). Beyond ~10⁷ train vectors
    the shortlist comes from the IVF tier (similarity_ivf_topk) feeding
    the identical vote kernel.
    """
    import numpy as np  # noqa: PLC0415

    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    is_test = (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < _KNN_CAP)
    # Bounded by construction (≤ CAP/10 rows at any SF) — the same
    # documented-bounded collect class as the IVF codebook training.
    test_rows = emb.filter(is_test).collect()
    q_ids = np.array([r["vec_id"] for r in test_rows], dtype=np.int64)
    q_labels = {int(r["vec_id"]): int(r["label"]) for r in test_rows}
    q_iu = np.stack(
        [
            _np_half_away(
                np.asarray(r["embedding"], dtype=np.float64) * 1e6
            ).astype(np.int64)
            for r in test_rows
        ]
    )
    q_norm = np.sqrt((q_iu.astype(np.float64) ** 2).sum(axis=1))
    k = _KNN_K

    def score(batches):
        import pandas as pd  # noqa: PLC0415

        best: dict[int, list] = {}  # query -> rows
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            iu = _np_half_away(x * 1e6).astype(np.int64)
            norm = np.sqrt((iu.astype(np.float64) ** 2).sum(axis=1))
            dots = iu @ q_iu.T  # exact int64
            # 6-dp pin with HALF-AWAY ties (np.round is half-to-even;
            # Spark round() and DuckDB round() are half-away — a cosine
            # landing on a representable .5e-6 would diverge engines).
            cos = (
                _np_half_away(
                    dots / (norm[:, None] * q_norm[None, :]) * 1e6
                )
                / 1e6
            )
            vids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            for qi in range(len(q_ids)):
                col = cos[:, qi]
                # local top-k by (cos desc, vec_id asc)
                order = np.lexsort((vids, -col))[:k]
                rows = best.setdefault(int(q_ids[qi]), [])
                rows.extend(
                    (float(col[j]), int(vids[j]), int(labels[j]))
                    for j in order
                )
                rows.sort(key=lambda t: (-t[0], t[1]))
                del rows[k:]
        out = {
            "query_id": [],
            "true_label": [],
            "neighbor_id": [],
            "neighbor_label": [],
            "cosine": [],
        }
        for qid, rows in best.items():
            for cosv, nid, nlab in rows:
                out["query_id"].append(qid)
                out["true_label"].append(q_labels[qid])
                out["neighbor_id"].append(nid)
                out["neighbor_label"].append(nlab)
                out["cosine"].append(cosv)
        yield pd.DataFrame(out)

    cand = emb.filter(~is_test).mapInPandas(
        score,
        "query_id long, true_label long, neighbor_id long,"
        " neighbor_label long, cosine double",
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = cand.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("v").desc(), F.col("neighbor_label")
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(wv))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label",
                F.col("neighbor_label").alias("pred_label"))
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )


embedding_knn_classify.__doc__ = embedding_knn_classify.__doc__.format(
    k=_KNN_K, cap=_KNN_CAP
)


# --------------------------------------------------------------------------
# PCA top component via integer Gram matrix + fixed power iteration
# --------------------------------------------------------------------------

_PCA_D = 64
_PCA_ITERS = 6


def _pca_oracle() -> str:
    """Chained-CTE replay of the integer-Gram power iteration."""
    its = []
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        its.append(
            f"""u{k} AS (
    SELECT c.gi AS idx,
           CAST(SUM(CAST(round(c.g * v.v) AS BIGINT)) AS BIGINT) AS u
    FROM cells c JOIN {prev} v ON v.idx = c.gj
    GROUP BY c.gi
),
d{k} AS (SELECT idx, u / 1000000.0 AS d FROM u{k}),
n{k} AS (
    SELECT CAST(SUM(CAST(round(d * d * 1000000) AS BIGINT)) AS BIGINT)
        AS n2
    FROM d{k}
),
v{k} AS (
    SELECT idx, d / sqrt(CAST(n2 AS DOUBLE) / 1000000.0) AS v
    FROM d{k}, n{k}
)"""
        )
        prev = f"v{k}"
    chained = ",\n".join(its)
    return f"""
WITH e AS (
    SELECT [CAST(x AS DOUBLE) for x in embedding] AS emb FROM embeddings
),
cells AS (
    SELECT i.i AS gi, j.j AS gj,
           CAST(SUM(CAST(round(emb[i.i + 1] * emb[j.j + 1] * 1000000)
                         AS BIGINT)) AS BIGINT) AS g
    FROM e,
         unnest(generate_series(0, {_PCA_D - 1})) AS i(i),
         unnest(generate_series(0, {_PCA_D - 1})) AS j(j)
    GROUP BY 1, 2
),
v0 AS (
    SELECT i AS idx, 0.125 AS v
    FROM unnest(generate_series(0, {_PCA_D - 1})) AS t(i)
),
{chained}
SELECT idx AS component,
       CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS loading_micro
FROM {prev}
"""


def _pca_gram_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gram matrix of the embedding corpus as a
    (gi, gj, g) table: per-row HALF_UP micro-rounded outer products
    accumulated into int64 per-partition partials by a numpy
    mapInPandas kernel (d² rows emitted per task), merged by one tiny
    keyed aggregation, checkpointed, memoized per session and input."""

    def build():
        emb = table(spark, sf_dir, "embeddings").select("embedding")
        cells = pca_gram_from(emb)
        return cells

    return artifact(spark, "pca_gram_cells", sf_dir, ("embeddings",), build)


def pca_gram_from(emb: DataFrame) -> DataFrame:
    """Gram-build core over any single-column (embedding: array) frame;
    see _pca_gram_cells for semantics. Closed-form-proven at 1M one-hot
    vectors (exactly diagonal, diag == count·micro(value²)) by
    tests/test_scale_smoke.py."""
    d = _PCA_D

    def partial_gram(batches):
        import numpy as np  # noqa: PLC0415

        half_away = _np_half_away
        acc = np.zeros((d, d), dtype=np.int64)
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # einsum materializes per-row outer products so rounding
            # happens per ROW (exactness requires it: rounding does not
            # commute with the sum); chunked so a 10k-row Arrow batch
            # never allocates n·d² floats at once (~33 MB per chunk).
            for lo in range(0, x.shape[0], 1024):
                xc = x[lo : lo + 1024]
                p = np.einsum("ni,nj->nij", xc, xc) * 1_000_000.0
                acc += half_away(p).astype(np.int64).sum(axis=0)
        gi, gj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame(
            {
                "gi": gi.ravel().astype("int64"),
                "gj": gj.ravel().astype("int64"),
                "t": acc.ravel(),
            }
        )

    return (
        emb.mapInPandas(partial_gram, "gi long, gj long, t long")
        .groupBy("gi", "gj")
        .agg(F.sum("t").cast("long").alias("g"))
        .localCheckpoint(eager=True)
    )


def pca_power_sweeps(
    spark: SparkSession, cells: DataFrame, iters: int = _PCA_ITERS
) -> DataFrame:
    """The power-iteration core over any (gi, gj, g) integer Gram table:
    iters × [broadcast 64-entry vector ⋈ Gram → micro-pinned mat-vec →
    exact-integer-norm² normalization via a bounded global window].
    Returns (idx, v). Numpy-replay-proven at 1M one-hot vectors by
    tests/test_scale_smoke.py (the Gram there is exactly diagonal, its
    closed form asserted cell-by-cell)."""
    d = _PCA_D
    v = spark.range(d).select(
        F.col("id").cast("long").alias("idx"),
        F.lit(1.0 / (d ** 0.5)).alias("v"),
    )
    for _ in range(iters):
        u = (
            cells.join(
                F.broadcast(v.withColumnRenamed("idx", "gj")), "gj"  # bounded: d-row eigenvector (PCA dim)
            )
            .groupBy("gi")
            .agg(
                F.sum(F.expr("CAST(round(g * v) AS BIGINT)"))
                .cast("long")
                .alias("u")
            )
            .select(F.col("gi").alias("idx"), (F.col("u") / 1e6).alias("d"))
        )
        # Normalization via a global window over the 64-row vector table
        # (documented-bounded, like every post-aggregation dust window)
        # instead of an agg + crossJoin — one broadcast exchange fewer
        # per sweep, same exact integer norm².
        wall = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        v = u.withColumn(
            "n2",
            F.sum(F.expr("CAST(round(d * d * 1000000) AS BIGINT)"))
            .over(wall)
            .cast("long"),
        ).select(
            "idx",
            (F.col("d") / F.sqrt(F.col("n2") / F.lit(1000000.0))).alias("v"),
        )
    return v


@query("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power
    iteration on the Gram matrix — the one-component PCA a pipeline
    runs for embedding whitening/diagnostics, entirely as dataflow.

    Two-phase shape that survives 100 TB: (1) the corpus is scanned
    ONCE through a mapInPandas numpy kernel that accumulates each Arrow
    batch's outer products into a per-partition integer partial Gram —
    dense BLAS work where vectorized math wins (the module's stated
    UDF policy), emitting exactly d² = {d2} rows per task so the single
    exchange carries O(tasks · d²), never O(n); (2) {iters}
    power-iteration sweeps run on the d²-row Gram table — per-sweep
    cost is a broadcast of the 64-entry vector and a tiny aggregation,
    the ml_logistic_gd iteration economics. The Gram table is
    localCheckpoint'd and session-memoized (the graph-fixture
    discipline) so sweeps and repeated calls reuse one materialization
    instead of re-scanning the corpus.

    Exactness: each row's outer-product cell is HALF_UP-rounded to
    integer micro-units IN the kernel (explicitly, not np.rint's
    half-to-even — matching Spark/DuckDB round() semantics), so the
    Gram is an exact bigint on any partitioning; each sweep's mat-vec
    terms are micro-pinned before their integer sum, and the
    normalization runs through an exact integer norm² — so all {iters}
    iterations are bit-identical across engines, never "close". Fixed
    iteration count and a fixed start vector (uniform 1/√d) make the
    recurrence a definition, not a convergence hope; the dominant
    eigengap of this corpus makes 6 sweeps plenty (loadings move
    < 1e-4 by sweep 6).
    """
    cells = _pca_gram_cells(spark, sf_dir)
    v = pca_power_sweeps(spark, cells)
    return v.select(
        F.col("idx").alias("component"),
        F.expr("CAST(floor(v * 1000000 + 0.5) AS BIGINT)").alias(
            "loading_micro"
        ),
    )


embedding_pca_power.__doc__ = embedding_pca_power.__doc__.format(
    d2=_PCA_D * _PCA_D, iters=_PCA_ITERS
)


# --------------------------------------------------------------------------
# Multiprobe LSH: probe each query bucket's Hamming-1 neighborhood
# --------------------------------------------------------------------------

# The multiprobe oracle is the single-probe oracle with the candidate
# join widened to the query's probe set (base bucket + one-bit flips) —
# everything upstream (planes, signatures) and downstream (exact cosine,
# top-k) is textually identical, so the two tiers stay provably aligned.
_LSH_MULTIPROBE_ORACLE = _LSH_ORACLE.replace(
    f"""cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sig c
    JOIN (SELECT * FROM sig WHERE vec_id < {N_QUERIES}) q
      ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
),""",
    f"""qprobe AS (
    SELECT vec_id, t,
           CASE WHEN g.j = -1 THEN bucket
                ELSE xor(bucket, 1 << g.j) END AS bucket
    FROM (SELECT * FROM sig WHERE vec_id < {N_QUERIES})
    CROSS JOIN generate_series(-1, {BITS_PER_TABLE - 1}) g(j)
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sig c
    JOIN qprobe q
      ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
),""",
)
assert _LSH_MULTIPROBE_ORACLE != _LSH_ORACLE  # surgery must have applied


@query("similarity_lsh_multiprobe_topk", oracle=_LSH_MULTIPROBE_ORACLE)
def similarity_lsh_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X16: multiprobe LSH (Lv et al., VLDB'07) — each query probes its
    own bucket PLUS the {bits} buckets one bit-flip away in every
    table, trading ~{bits}× more (tiny) probe keys for the recall that
    single-probe LSH only gets from more tables. The corpus side is
    untouched: same signatures, same index, no extra storage — the
    standard way to raise recall on a deployed LSH index without
    re-hashing the corpus at 100 TB.

    Plan shape: identical to similarity_lsh_topk except the broadcast
    query side explodes to n_tables × (1 + {bits}) probe rows (still
    dust); the candidate equi-join, exact-cosine rescore of unique
    pairs, and per-query top-k are the same machinery. Candidates are a
    strict superset of single-probe's, so recall can only improve —
    measured vs brute: 0.96 @ sf0.001 and 0.98 @ sf0.01, against
    single-probe's 0.52 / 0.34 (dominance asserted in
    tests/test_streaming.py).
    """
    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    emb = with_norm(emb)
    # One materialized signature pass (lazy localCheckpoint of the dust
    # (vec_id, t, bucket) table) — same fix as similarity_lsh_topk: the
    # multi-referenced UDF subtree otherwise duplicates into 8
    # ArrowEvalPython corpus passes per execution (guide §4.4/§5).
    exploded = (
        emb.withColumn("tables", lsh_tables_udf()("emb"))
        .select("vec_id", F.posexplode("tables").alias("t", "bucket"))
        .localCheckpoint(eager=False)
    )
    probes = F.array(
        F.col("bucket"),
        *[
            F.expr(f"bucket ^ {1 << j}")
            for j in range(BITS_PER_TABLE)
        ],
    )
    q_probes = (
        exploded.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("t").alias("qt"),
            F.explode(probes).alias("qbucket"),
        )
    )
    cand_ids = (
        exploded.join(
            F.broadcast(q_probes),  # bounded: query/probe-set dust (N_QUERIES-bounded)
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    corpus_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"), "emb", "norm"
    )
    qvecs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    cand = (
        F.broadcast(cand_ids)  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .join(corpus_vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")  # bounded: query/probe-set dust (N_QUERIES-bounded)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot("qemb", "emb") / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine")
    )


similarity_lsh_multiprobe_topk.__doc__ = (
    similarity_lsh_multiprobe_topk.__doc__.format(bits=BITS_PER_TABLE)
)
