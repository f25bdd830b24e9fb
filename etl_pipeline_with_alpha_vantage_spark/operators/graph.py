"""Graph operators over warehouse-derived edge lists.

The reference has no graph surface; these extend the engine the same way
``dedup_cc_clusters`` does (iterative min-label propagation) — here with
a FIXED-ITERATION dataflow algorithm, PageRank, over the bipartite
supplier↔part graph mined from ``lineitem``.

Exactness across engines is the interesting part: floating-point PageRank
is order-sensitive (Σ of doubles), so instead the whole recurrence runs in
scaled 64-bit INTEGER arithmetic — rank "units", truncating division for
the per-edge share, integer damping — which is associative/commutative and
therefore bit-exact on any partitioning, any engine. The oracle replays
the identical recurrence as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import artifact, spread, table
from ..functions.exact import md5_long
from ..registry import query

# One undirected co-supply edge list per (session, sf_dir): PageRank,
# LPA, k-core, and iterative BFS all mine the IDENTICAL bipartite
# supplier↔part graph from lineitem (distinct pairs, nodes encoded
# supp*2 / part*2+1, doubled both directions). Building it is the
# family's dominant fixed cost — a full fact-table scan + distinct —
# so it is materialized ONCE (eager localCheckpoint truncates lineage;
# checkpointed blocks are reused, never recomputed) and shared. At
# 100 TB this turns 4 fact-table scans into 1 per analytical session.


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized undirected supplier↔part edge list: columns
    (src, dst, outdeg), both directions present, distinct,
    lineage-truncated. outdeg (the src node's degree) rides along
    because PageRank needs the edge⋈degree product every iteration —
    carrying it in the ONE checkpointed artifact means repeated calls
    (bench min-of-n, parity sweeps) never stack per-call checkpoint
    copies in the driver's storage memory."""

    def build():
        li = table(spark, sf_dir, "lineitem")
        pairs = li.select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        ).distinct()
        und = pairs.unionAll(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # Degree attaches via a src-partitioned window instead of
        # groupBy+join-back: the window rides und's ONE hash(src) exchange
        # (count over the whole partition frame), where the join form paid
        # a second pass over the edge list plus the deg exchange (guide
        # §2.4 "two operations keyed the same way can share one exchange").
        # Measured on the build (isolated, min-of-4): 1.41 -> 0.86 s at
        # sf0.1 and 8.0 -> 2.3 s on the 10x tiled fixture — and the
        # checkpointed artifact keeps the same hash(src) partitioning every
        # consumer relies on (r13).
        edges = und.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        ).localCheckpoint(eager=True)
        try:
            # The checkpointed partition count is AQE's size-coalesced
            # answer (~bytes / advisoryPartitionSizeInBytes), i.e. a
            # scale-adaptive signal consumers can size dependent shuffles
            # from (sql_bfs_distances' recursive walk does — r13, guide
            # §2.2). Probed once per materialization; the RDD handle
            # already exists, so this is metadata, not a job.
            edges._sg_nparts = edges.rdd.getNumPartitions()
        except Exception:
            pass
        return edges

    return artifact(spark, "cosupply_edges", sf_dir, ("lineitem",), build)

_PR_ITERS = 3
_PR_INIT = 1_000_000  # initial rank units per node
# damped update, all-integer: r' = 150000 + (850 * inflow) DIV 1000
# (i.e. 0.15 teleport + 0.85 damping at 1e6 scale, truncating).


def pagerank_sweeps(edges_deg: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """The integer-PageRank iteration core over any (src, dst, outdeg)
    edge frame: iters × [join(edges, ranks on src) → groupBy(dst)
    partial-aggregated integer sum with the damped update folded in].
    Returns (node_id, rank_units).

    The node-list LEFT-join a textbook PR needs for isolated nodes is
    provably dead weight here: callers pass edge frames where every node
    has an incident edge (undirected doubling / regular synthetic
    graphs), so the inflow aggregation's keyset already equals the node
    set. The shuffle_hash hint on the ranks side means edges keep their
    checkpoint partitioning, only the small per-iteration rank vector
    moves, and the planner can never elect to BROADCAST the edge list —
    at 100 TB edges are the fact-scale side, and even locally a
    near-threshold edge broadcast is a driver-heap OOM waiting to
    happen. Exercised at 5M-edge volume by tests/test_scale_smoke.py.
    """
    ranks = (
        edges_deg.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("rank_units", F.lit(_PR_INIT).cast("long"))
    )
    for _ in range(iters):
        ranks = (
            edges_deg.join(
                ranks.withColumnRenamed("node_id", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node_id"),
                F.expr("rank_units DIV outdeg").alias("share"),
            )
            .groupBy("node_id")
            .agg(
                (F.lit(150000) + F.expr("(850 * sum(share)) DIV 1000"))
                .cast("long")
                .alias("rank_units")
            )
        )
    return ranks


def _pr_oracle() -> str:
    """Chained-CTE replay of the integer PageRank recurrence."""
    its = []
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        its.append(
            f"""r{k} AS (
    SELECT n.node_id,
           150000 + ((850 * COALESCE(SUM(
               (p.rank_units // d.outdeg)
           ), 0)) // 1000) AS rank_units
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node_id
    LEFT JOIN {prev} p ON p.node_id = e.src
    LEFT JOIN deg d ON d.node_id = e.src
    GROUP BY n.node_id
)"""
        )
        prev = f"r{k}"
    chained = ",\n".join(its)
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
edges AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
nodes AS (
    SELECT DISTINCT src AS node_id FROM edges
),
deg AS (
    SELECT src AS node_id, COUNT(*) AS outdeg FROM edges GROUP BY src
),
r0 AS (
    SELECT node_id, {_PR_INIT} AS rank_units FROM nodes
),
{chained}
SELECT node_id,
       CASE WHEN node_id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node_id // 2 AS BIGINT) AS entity_key,
       CAST(rank_units AS BIGINT) AS rank_units
FROM {prev}
"""


@query("graph_pagerank", oracle=_pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (3) PageRank over the supplier↔part co-supply
    graph: which suppliers/parts are most central to the supply network.

    Exact-replay design: ranks are scaled integers; each edge carries
    rank DIV outdeg (truncating); the damped update is integer too. Every
    reduction is an integer sum — order-insensitive — so Spark and the
    chained-CTE oracle agree bit-for-bit, something no floating-point
    PageRank can promise across engines.

    Scale shape: the edge list shuffles ONCE onto its src key and is then
    reused by every iteration's join; each iteration is join(edges, ranks
    on src) → groupBy(dst) partial-aggregated sum — the standard
    distributed PR dataflow with a lineage bounded by the fixed iteration
    count (no checkpoint needed at 3 hops). Undirected bipartite edges
    mean no dangling nodes, so no global rank-mass correction term is
    required.
    """
    # src nodes == all nodes (undirected doubling), and the edge⋈degree
    # product is iteration-invariant: it IS the session-memoized family
    # fixture (one checkpointed artifact shared with LPA/k-core/BFS), so
    # each iteration joins cached edge blocks instead of re-deriving
    # scan→distinct→agg→join — at 100 TB the re-derivation would be
    # 3 extra passes over the fact table per query, ×4 queries.
    edges_deg = _cosupply_edges(spark, sf_dir)
    ranks = pagerank_sweeps(edges_deg, _PR_ITERS)
    return ranks.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
        F.expr("node_id DIV 2").cast("long").alias("entity_key"),
        F.col("rank_units").cast("long").alias("rank_units"),
    )


# --------------------------------------------------------------------------
# Weighted PageRank over co-supply edge multiplicities
# --------------------------------------------------------------------------

# Per-edge multiplicity clip. Co-supply counts above this carry no
# extra centrality signal, and the clip is what keeps the recurrence's
# one product int64-exact: rank mass is bounded by V·1e6 + teleport, so
# rank·w ≤ (V·1e6)·1000 stays inside 2^63 for any graph to ~9e9 nodes.
# Mirrored verbatim in the oracle (LEAST), so it is part of the defined
# semantics, not a lossy approximation; the TPC-H-shaped fixture never
# reaches it (multiplicities are small — tripwired in
# tests/test_round12.py an order of magnitude inside).
_PRW_WCAP = 1000


def _cosupply_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized WEIGHTED undirected co-supply edge list: (src, dst, w,
    wsum) where w = clipped lineitem multiplicity of the (supp, part)
    pair and wsum = src's total outgoing weight. The weighted family's
    shared edge list: one fact scan per session and input."""

    def build():
        li = table(spark, sf_dir, "lineitem")
        mult = (
            li.groupBy(
                (F.col("l_suppkey") * 2).alias("s"),
                (F.col("l_partkey") * 2 + 1).alias("p"),
            )
            .agg(
                F.least(F.count(F.lit(1)), F.lit(_PRW_WCAP))
                .cast("long")
                .alias("w")
            )
        )
        und = mult.select(
            F.col("s").alias("src"), F.col("p").alias("dst"), "w"
        ).unionAll(
            mult.select(F.col("p").alias("src"), F.col("s").alias("dst"), "w")
        )
        # Same one-exchange window attach as _cosupply_edges (r13).
        edges = und.withColumn(
            "wsum",
            F.sum("w").over(Window.partitionBy("src")).cast("long"),
        ).localCheckpoint(eager=True)
        return edges

    return artifact(
        spark, "cosupply_edges_weighted", sf_dir, ("lineitem",), build
    )


def _prw_oracle() -> str:
    """Chained-CTE replay of the integer weighted-PageRank recurrence."""
    its = []
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        its.append(
            f"""r{k} AS (
    SELECT n.node_id,
           150000 + ((850 * COALESCE(SUM(
               ((p.rank_units * e.w) // d.wsum)
           ), 0)) // 1000) AS rank_units
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node_id
    LEFT JOIN {prev} p ON p.node_id = e.src
    LEFT JOIN wd d ON d.node_id = e.src
    GROUP BY n.node_id
)"""
        )
        prev = f"r{k}"
    chained = ",\n".join(its)
    return f"""
WITH mult AS (
    SELECT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p,
           LEAST(COUNT(*), {_PRW_WCAP}) AS w
    FROM lineitem GROUP BY 1, 2
),
edges AS (
    SELECT s AS src, p AS dst, w FROM mult
    UNION ALL
    SELECT p AS src, s AS dst, w FROM mult
),
nodes AS (
    SELECT DISTINCT src AS node_id FROM edges
),
wd AS (
    SELECT src AS node_id, SUM(w) AS wsum FROM edges GROUP BY src
),
r0 AS (
    SELECT node_id, {_PR_INIT} AS rank_units FROM nodes
),
{chained}
SELECT node_id,
       CASE WHEN node_id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node_id // 2 AS BIGINT) AS entity_key,
       CAST(rank_units AS BIGINT) AS rank_units
FROM {prev}
"""


@query("graph_pagerank_weighted", oracle=_prw_oracle())
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over co-supply edge MULTIPLICITIES: the plain
    kernel treats a supplier that shipped a part once and one that
    ships it daily as the same edge; here each edge carries its clipped
    lineitem multiplicity and a node's rank divides across neighbors
    proportionally (share = rank·w DIV wsum — the weighted random-walk
    transition, truncating-integer form). Same all-integer damped
    recurrence, fixed 3 sweeps, and order-insensitive integer sums as
    graph_pagerank, so the chained-CTE oracle replays it bit-for-bit.

    Exactness pole: the one product rank·w is int64-safe because w is
    clipped at {cap} (mirrored LEAST in the oracle — defined
    semantics) and rank mass is bounded by V·1e6; the fixture's
    multiplicities are tripwired far inside the clip.

    Scale shape: its own session-memoized weighted fixture (one fact
    scan: groupBy multiplicity → doubling → out-strength join →
    eager checkpoint); per sweep join(edges, ranks on src) with the
    shuffle_hash hint → groupBy(dst) partial-aggregated sum — only the
    per-iteration rank vector moves, the planner can never broadcast
    the fact-scale edge side."""
    edges = _cosupply_edges_weighted(spark, sf_dir)
    ranks = (
        edges.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("rank_units", F.lit(_PR_INIT).cast("long"))
    )
    for _ in range(_PR_ITERS):
        ranks = (
            edges.join(
                ranks.withColumnRenamed("node_id", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node_id"),
                F.expr("(rank_units * w) DIV wsum").alias("share"),
            )
            .groupBy("node_id")
            .agg(
                (F.lit(150000) + F.expr("(850 * sum(share)) DIV 1000"))
                .cast("long")
                .alias("rank_units")
            )
        )
    return ranks.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
        F.expr("node_id DIV 2").cast("long").alias("entity_key"),
        F.col("rank_units").cast("long").alias("rank_units"),
    )


graph_pagerank_weighted.__doc__ = graph_pagerank_weighted.__doc__.format(
    cap=_PRW_WCAP
)


# --------------------------------------------------------------------------
# Personalized PageRank (random walk with restart) over the same fixture
# --------------------------------------------------------------------------

_PPR_ITERS = 3
_PPR_INIT = 1_000_000  # initial rank units on each SOURCE node
_PPR_RESTART = 150_000  # per-iteration restart mass per source node
# Source set: every 7th supplier (suppkey % 7 == 0) — deterministic from
# the data, ~14% of supplier nodes. As a node_id predicate:
# node_id % 2 = 0 (supplier) AND (node_id DIV 2) % 7 = 0.
_PPR_SRC_SQL = "(node_id % 2 = 0 AND (node_id DIV 2) % 7 = 0)"


def ppr_sweeps(edges_deg: DataFrame, iters: int = _PPR_ITERS) -> DataFrame:
    """Personalized-PageRank iteration core over any (src, dst, outdeg)
    edge frame whose node ids encode the source predicate
    ``_PPR_SRC_SQL``: iters × [join(edges, ranks on src) → groupBy(dst)
    integer sum with restart mass injected ONLY at source nodes].
    Returns (node_id, rank_units).

    Same all-integer exactness contract as pagerank_sweeps (truncating
    DIV shares, integer damping — associative on any partitioning, so
    bit-exact vs the chained-CTE oracle); the restart term is a pure
    node_id expression, so personalization costs ZERO extra joins. The
    inflow keyset equals the node set (undirected doubling — every node
    has in-edges), so no left-join backfill is needed: non-source nodes
    far from the source set simply carry rank 0 until mass reaches
    them. shuffle_hash on the rank side keeps the checkpointed edge
    partitioning; only the rank vector moves per iteration."""
    restart = F.expr(
        f"CASE WHEN {_PPR_SRC_SQL} THEN {_PPR_RESTART} ELSE 0 END"
    )
    ranks = (
        edges_deg.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn(
            "rank_units",
            F.expr(
                f"CASE WHEN {_PPR_SRC_SQL} THEN {_PPR_INIT} ELSE 0 END"
            ).cast("long"),
        )
    )
    for _ in range(iters):
        ranks = (
            edges_deg.join(
                ranks.withColumnRenamed("node_id", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node_id"),
                F.expr("rank_units DIV outdeg").alias("share"),
            )
            .groupBy("node_id")
            .agg(
                (restart + F.expr("(850 * sum(share)) DIV 1000"))
                .cast("long")
                .alias("rank_units")
            )
        )
    return ranks


def _ppr_oracle() -> str:
    """Chained-CTE replay of the integer personalized-PageRank
    recurrence (the _pr_oracle builder with a source-predicate restart
    term; DuckDB's // truncates like Spark's DIV on these non-negative
    units)."""
    src = "(n.node_id % 2 = 0 AND (n.node_id // 2) % 7 = 0)"
    its = []
    prev = "r0"
    for k in range(1, _PPR_ITERS + 1):
        its.append(
            f"""r{k} AS (
    SELECT n.node_id,
           CASE WHEN {src} THEN {_PPR_RESTART} ELSE 0 END
           + ((850 * COALESCE(SUM(
               (p.rank_units // d.outdeg)
           ), 0)) // 1000) AS rank_units
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node_id
    LEFT JOIN {prev} p ON p.node_id = e.src
    LEFT JOIN deg d ON d.node_id = e.src
    GROUP BY n.node_id
)"""
        )
        prev = f"r{k}"
    chained = ",\n".join(its)
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
edges AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
nodes AS (
    SELECT DISTINCT src AS node_id FROM edges
),
deg AS (
    SELECT src AS node_id, COUNT(*) AS outdeg FROM edges GROUP BY src
),
r0 AS (
    SELECT node_id,
           CASE WHEN node_id % 2 = 0 AND (node_id // 2) % 7 = 0
                THEN {_PPR_INIT} ELSE 0 END AS rank_units
    FROM nodes
),
{chained}
SELECT node_id,
       CASE WHEN node_id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node_id // 2 AS BIGINT) AS entity_key,
       CAST(rank_units AS BIGINT) AS rank_units
FROM {prev}
"""


@query("graph_pagerank_personalized", oracle=_ppr_oracle())
def graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank / random walk with restart (Haveliwala
    2002; Tong, Faloutsos & Pan 2006) seeded at every 7th supplier —
    "which parts and suppliers are most reachable FROM this cohort"
    rather than graph_pagerank's global centrality. The
    proximity-scoring primitive behind recommendation ("suppliers like
    these"), spam/fraud cohort expansion, and seed-set label spreading.

    Exactness and scale shape are graph_pagerank's, unchanged: the
    session-memoized checkpointed edge fixture shuffles once, each of
    the {iters} sweeps joins it to the moving integer rank vector
    (shuffle_hash — the planner can never broadcast the fact-scale
    edges), and the restart/seed term is a pure node_id expression, so
    personalization adds zero joins, zero shuffles, and zero float
    drift (all-integer recurrence, bit-exact vs the chained-CTE
    oracle). Seeds carry {init} units; per-sweep restart mass is
    {restart} units per seed with 0.85 integer damping.
    """
    edges_deg = _cosupply_edges(spark, sf_dir)
    ranks = ppr_sweeps(edges_deg, _PPR_ITERS)
    return ranks.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
        F.expr("node_id DIV 2").cast("long").alias("entity_key"),
        F.col("rank_units").cast("long").alias("rank_units"),
    )


graph_pagerank_personalized.__doc__ = (
    graph_pagerank_personalized.__doc__.format(
        iters=_PPR_ITERS, init=_PPR_INIT, restart=_PPR_RESTART
    )
)


# --------------------------------------------------------------------------
# Triangle enumeration over the near-duplicate pair graph
# --------------------------------------------------------------------------

_TRI_JACCARD = 0.2  # pair-graph edge threshold
_TRI_DF_CAP = 50    # drop shingles shared by > 50 docs (stopword shingles)

# Shared CTE prefix (documents → near-duplicate pair edges) for the
# triangle and clustering-coefficient oracles.
_TRI_CTE_PREFIX = f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
grams0 AS (
    SELECT DISTINCT doc_id,
           concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram
    FROM docs, unnest(generate_series(1, len(toks) - 2)) AS t(i)
    WHERE len(toks) >= 3
),
keep AS (
    SELECT gram FROM grams0 GROUP BY gram
    HAVING COUNT(*) <= {_TRI_DF_CAP}
),
grams AS (SELECT g.doc_id, g.gram FROM grams0 g JOIN keep k ON g.gram = k.gram),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
          >= {_TRI_JACCARD}
)"""

_TRI_ORACLE = f"""{_TRI_CTE_PREFIX},
deg AS (
    SELECT n, COUNT(*) AS d FROM (
        SELECT doc_a AS n FROM pairs UNION ALL SELECT doc_b FROM pairs
    ) GROUP BY n
),
eo AS (
    SELECT CASE WHEN (da.d, p.doc_a) < (db.d, p.doc_b)
                THEN p.doc_a ELSE p.doc_b END AS u,
           CASE WHEN (da.d, p.doc_a) < (db.d, p.doc_b)
                THEN p.doc_b ELSE p.doc_a END AS v
    FROM pairs p
    JOIN deg da ON da.n = p.doc_a
    JOIN deg db ON db.n = p.doc_b
),
tri AS (
    SELECT t1.u AS a, t1.v AS b, t2.v AS c
    FROM eo t1
    JOIN eo t2 ON t2.u = t1.v
    JOIN eo t3 ON t3.u = t1.u AND t3.v = t2.v
)
SELECT
    CAST(LEAST(a, b, c) AS BIGINT)                             AS doc_a,
    CAST(a + b + c - LEAST(a, b, c) - GREATEST(a, b, c) AS BIGINT)
                                                               AS doc_b,
    CAST(GREATEST(a, b, c) AS BIGINT)                          AS doc_c
FROM tri
"""


@query("graph_triangles", oracle=_TRI_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle enumeration over the near-duplicate pair graph —
    triangles are the densest dedup clusters (three docs pairwise
    similar), the signal canonical-corpus building cares most about.

    Two scale disciplines compose here:

      1. **Edges** come from the trigram inverted index (the
         dedup_ngram_jaccard shape) with a document-frequency cap:
         shingles shared by > 50 docs are stopword-shingles — no dedup
         signal, quadratic join blowup — so they are dropped BEFORE the
         self-join, bounding per-shingle fan-out at C(50,2) pairs.
         Jaccard is computed over the capped shingle sets, mirrored
         exactly in the oracle.
      2. **Triangles** use the degree-ordered orientation: every edge
         points from its lower-(degree, id) endpoint to the higher one,
         so each triangle is generated exactly once and the wedge join
         fans out along out-degrees, which orientation provably bounds
         by O(sqrt(E)) per node — the standard fix for hub vertices
         (a boilerplate doc near-duplicated across thousands of pages
         would otherwise quadratically explode the wedge join).

    Output triples are canonicalized (sorted by doc_id) so the result is
    orientation-independent. Everything is integer arithmetic and exact
    division-compares — bit-stable on any engine or partitioning.
    """
    return oriented_triangles(_dedup_pair_edges(spark, sf_dir))


def _dedup_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-duplicate pair graph (doc_a < doc_b) behind
    graph_triangles and graph_clustering_global: DF-capped trigram
    inverted index → Jaccard-thresholded pairs, checkpointed (the edge
    list feeds many self-join roles) and memoized on the session so the
    two queries share one materialization per (session, sf_dir)."""

    def build():
        docs = spread(table(spark, sf_dir, "documents"))
        toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
        n2 = F.size("toks") - 2
        tri_arr = F.zip_with(
            F.slice("toks", 1, n2),
            F.zip_with(
                F.slice("toks", 2, n2),
                F.slice("toks", 3, n2),
                lambda b, c: F.concat(b, F.lit(" "), c),
            ),
            lambda a, bc: F.concat(a, F.lit(" "), bc),
        )
        grams0 = toks.select(
            "doc_id", F.explode(F.array_distinct(tri_arr)).alias("gram")
        )
        keep = (
            grams0.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _TRI_DF_CAP)
            .select("gram")
        )
        grams = grams0.join(keep, "gram")
        sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a, b = grams.alias("a"), grams.alias("b")
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
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        pairs = (
            inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .filter(
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
                >= _TRI_JACCARD
            )
            .select("doc_a", "doc_b")
            # The edge list feeds deg twice, the orientation join, and THREE
            # roles of the triangle self-join; without cutting lineage here
            # the inverted-index subtree would be cloned into every branch
            # (~120 scans in the static plan). Materialize the (tiny) edge
            # list once — same discipline as CC's per-sweep checkpoint.
            .localCheckpoint(eager=False)
        )
        return pairs

    return artifact(spark, "dedup_pair_edges", sf_dir, ("documents",), build)


def oriented_triangles(pairs: DataFrame, wedge_observation=None) -> DataFrame:
    """Degree-ordered triangle enumeration over an undirected edge list
    ``(doc_a, doc_b)`` (each edge listed exactly once, endpoints
    distinct). Every edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so each triangle is produced exactly
    once and wedge fan-out is bounded by out-degree ≤ O(sqrt(E)) — the
    hub-vertex discipline shared by graph_triangles (which feeds it the
    near-duplicate pair graph) and the volume suite (which feeds it a
    generated graph with a closed-form triangle count). Output triples
    are canonicalized doc_a < doc_b < doc_c.

    ``wedge_observation``: optional ``pyspark.sql.Observation``; when
    given, a count metric named ``wedges`` is attached to the
    degree-ordered wedge stage (t1⨝t2, BEFORE the closing t3 join) so
    tests can assert the INTERMEDIATE volume equals the closed form
    Σ over nodes m of in_eo(m)·out_eo(m) — the bound the orientation
    exists to enforce, which output-side triangle counts cannot see."""
    deg = (
        pairs.select(F.col("doc_a").alias("n"))
        .unionAll(pairs.select(F.col("doc_b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ranked = (
        pairs.join(da, F.col("doc_a") == F.col("da.n"))
        .join(db, F.col("doc_b") == F.col("db.n"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.struct(F.col("da.d"), F.col("doc_a"))
                < F.struct(F.col("db.d"), F.col("doc_b"))
            ).alias("a_first"),
        )
    )
    eo = ranked.select(
        F.when(F.col("a_first"), F.col("doc_a")).otherwise(F.col("doc_b"))
        .alias("u"),
        F.when(F.col("a_first"), F.col("doc_b")).otherwise(F.col("doc_a"))
        .alias("v"),
    )
    t1, t2, t3 = eo.alias("t1"), eo.alias("t2"), eo.alias("t3")
    wedges = t1.join(t2, F.col("t2.u") == F.col("t1.v"))
    if wedge_observation is not None:
        wedges = wedges.observe(
            wedge_observation, F.count(F.lit(1)).alias("wedges")
        )
    tri = (
        wedges.join(
            t3,
            (F.col("t3.u") == F.col("t1.u"))
            & (F.col("t3.v") == F.col("t2.v")),
        )
        .select(
            F.col("t1.u").alias("a"),
            F.col("t1.v").alias("b"),
            F.col("t2.v").alias("c"),
        )
    )
    lo = F.least("a", "b", "c")
    hi = F.greatest("a", "b", "c")
    return tri.select(
        lo.cast("long").alias("doc_a"),
        (F.col("a") + F.col("b") + F.col("c") - lo - hi)
        .cast("long")
        .alias("doc_b"),
        hi.cast("long").alias("doc_c"),
    )


# --------------------------------------------------------------------------
# Label propagation communities — fixed-iteration, deterministic
# --------------------------------------------------------------------------

_LPA_ITERS = 3


def _lpa_chain_ctes() -> tuple[str, str]:
    """The shared chained-CTE prefix replaying the synchronous LPA
    recurrence (pairs → doubled edges → l0 → … → l{K}); returns
    (cte_text_without_WITH, final_label_cte_name). Reused by the LPA
    oracle and the modularity oracle so both replay the identical
    partition."""
    its = []
    prev = "l0"
    for k in range(1, _LPA_ITERS + 1):
        its.append(
            f"""c{k} AS (
    SELECT e.dst AS node_id, p.label, COUNT(*) AS cnt
    FROM edges e JOIN {prev} p ON p.node_id = e.src
    GROUP BY 1, 2
),
l{k} AS (
    SELECT node_id, label FROM (
        SELECT node_id, label,
               row_number() OVER (PARTITION BY node_id
                                  ORDER BY cnt DESC, label) AS rn
        FROM c{k}) WHERE rn = 1
)"""
        )
        prev = f"l{k}"
    chained = ",\n".join(its)
    ctes = f"""pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
edges AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
l0 AS (
    SELECT DISTINCT src AS node_id, src AS label FROM edges
),
{chained}"""
    return ctes, prev


def _lpa_oracle() -> str:
    """Chained-CTE replay of the synchronous LPA recurrence."""
    ctes, prev = _lpa_chain_ctes()
    return f"""
WITH {ctes},
sized AS (
    SELECT node_id, label,
           COUNT(*) OVER (PARTITION BY label) AS community_size
    FROM {prev}
)
SELECT node_id,
       CASE WHEN node_id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node_id // 2 AS BIGINT) AS entity_key,
       CAST(label AS BIGINT) AS label,
       CAST(community_size AS BIGINT) AS community_size
FROM sized
"""


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the supplier↔part co-supply graph: {it} fixed
    sweeps, each node adopting the most frequent label among its
    neighbors with ties broken to the SMALLEST label — both choices
    exactly the determinism discipline graph_pagerank set (fixed
    iterations, integer labels, total tie order), so the chained-CTE
    oracle replays the recurrence bit-for-bit where classic
    random-order LPA is irreproducible by construction.

    Scale shape: the edge list is the session-memoized family fixture
    (built once, lineage-truncated); each sweep is join(edges, labels
    on src) → one partial-aggregated deterministic mode(label) on dst —
    ONE keyed exchange per sweep, state bounded by nodes × distinct
    incident labels. Undirected doubling keeps every node in every sweep's
    keyset (no isolated-node patch-up join), and the fixed sweep count
    bounds the plan like PageRank's — no convergence detection, no
    driver round-trips.
    """
    labels = _lpa_final_labels(spark, sf_dir)
    sized = labels.select(
        "node_id",
        "label",
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("community_size"),
    )
    return sized.select(
        "node_id",
        F.when(F.col("node_id") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
        (F.col("node_id") / 2).cast("long").alias("entity_key"),
        F.col("label").cast("long").alias("label"),
        F.col("community_size").cast("long").alias("community_size"),
    )


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    it=_LPA_ITERS
)


def _lpa_final_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final LPA label table (node_id, label) after the fixed
    sweeps — the shared detect step behind graph_label_propagation
    (which sizes it) and graph_modularity (which scores it). Memoized
    per (session, sf_dir) and lazily checkpointed: node-dust relative
    to the fact table, so materializing it once is the 2×-win side of
    the checkpoint-dust/recompute-corpus discipline."""

    def build():
        edges = _cosupply_edges(spark, sf_dir).select("src", "dst")
        labels = edges.select(F.col("src").alias("node_id")).distinct().select(
            "node_id", F.col("node_id").alias("label")
        )
        for _ in range(_LPA_ITERS):
            # Per sweep: join-on-src → codegen count on (dst, label) →
            # struct-max argmax on dst. max(struct(c, -label)) picks the
            # most frequent label with ties to the SMALLEST label — exactly
            # the deterministic recurrence. This r13 shape replaced
            # mode(label, true) (a TypedImperativeAggregate holding a
            # per-node label→count map, no codegen): the count+struct-max
            # pair is two exchanges but both are codegen hash aggregates
            # with map-side partials that collapse the per-edge stream to
            # (node, label) dust before the second exchange — same-window
            # min-of-4: 5.40 → 3.70 s on the 10x tiled fixture, flat
            # (1.71/1.77 s) at sf0.1 where the memo makes it cold-only.
            # (The even older groupBy+WINDOW argmax was slower than both —
            # a window pays a sort, struct-max doesn't.)
            cnt = (
                edges.join(
                    labels.withColumnRenamed("node_id", "src").hint(
                        "shuffle_hash"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node_id"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = (
                cnt.groupBy("node_id")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                    ).alias("mx")
                )
                .select("node_id", (-F.col("mx.nl")).alias("label"))
            )
        labels = labels.localCheckpoint(eager=False)
        return labels

    return artifact(spark, "lpa_labels", sf_dir, ("lineitem",), build)


# --------------------------------------------------------------------------
# Modularity — scoring the LPA partition (detect → SCORE)
# --------------------------------------------------------------------------


def _modularity_oracle() -> str:
    """LPA chain + Newman–Girvan modularity accounting per community."""
    ctes, prev = _lpa_chain_ctes()
    return f"""
WITH {ctes},
lab AS (SELECT node_id, label FROM {prev}),
deg AS (SELECT src AS node_id, COUNT(*) AS outdeg FROM edges GROUP BY src),
mm AS (SELECT COUNT(*) AS m2 FROM edges),
intra AS (
    SELECT lu.label, COUNT(*) AS e2
    FROM edges e
    JOIN lab lu ON lu.node_id = e.src
    JOIN lab lv ON lv.node_id = e.dst
    WHERE lu.label = lv.label
    GROUP BY lu.label
),
comm AS (
    SELECT l.label, COUNT(*) AS n_nodes, SUM(d.outdeg) AS dsum
    FROM lab l JOIN deg d ON d.node_id = l.node_id
    GROUP BY l.label
)
SELECT CAST(c.label AS BIGINT)                  AS label,
       CAST(c.n_nodes AS BIGINT)               AS n_nodes,
       CAST(c.dsum AS BIGINT)                  AS degree_sum,
       CAST(COALESCE(i.e2, 0) // 2 AS BIGINT)  AS intra_edges,
       CAST(round(1000000.0 * (
            CAST(COALESCE(i.e2, 0) AS DOUBLE) / mm.m2
            - (CAST(c.dsum AS DOUBLE) / mm.m2)
              * (CAST(c.dsum AS DOUBLE) / mm.m2))) AS BIGINT) AS modq_micro
FROM comm c
LEFT JOIN intra i ON i.label = c.label
CROSS JOIN mm
"""


@query("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman–Girvan modularity of the LPA communities over the
    co-supply graph — the score step that completes detect→score
    (communities without a quality number are unfalsifiable; Q says
    whether the partition beats the degree-preserving random graph).
    Per community c: Q_c = e_c/m − (d_c/2m)², emitted micro-pinned
    alongside its exact integer ingredients (node count, degree sum,
    intra-community edge count); Σ Q_c is the classic global Q.

    Exactness: on the DOUBLED edge fixture every ingredient is an
    exact bigint count (e2_c = 2e_c, m2 = 2m, d_c = Σ outdeg), and
    Q_c = e2_c/m2 − (dsum_c/m2)² is two IEEE divisions, one multiply,
    one subtract on those integers — deterministic on both engines, so
    the micro pin hash-matches. The oracle replays the identical LPA
    chain via the shared CTE prefix.

    Scale shape: labels come from the memoized checkpointed LPA dust
    (shared with graph_label_propagation — zero extra sweeps); the
    intra count is two node-keyed joins riding the checkpointed edge
    fixture's partitioning (no forced broadcast — labels are O(V),
    AQE decides); degree/community rollups are keyed aggregations on
    dust; m2 is a 1-row broadcast. Nothing quadratic anywhere: the
    heavy object is the edge list itself, touched a bounded number of
    times."""
    edges = _cosupply_edges(spark, sf_dir)
    lab = _lpa_final_labels(spark, sf_dir)
    mm = edges.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    lu = lab.select(F.col("node_id").alias("src"), F.col("label").alias("lu"))
    lv = lab.select(F.col("node_id").alias("dst"), F.col("label").alias("lv"))
    intra = (
        edges.select("src", "dst")
        .join(lu, "src")
        .join(lv, "dst")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e2"))
    )
    deg = edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    comm = (
        lab.join(deg, "node_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("outdeg").cast("long").alias("dsum"),
        )
    )
    return (
        comm.join(intra, "label", "left")
        .crossJoin(F.broadcast(mm))  # bounded: 1-row global aggregate
        .select(
            F.col("label").cast("long").alias("label"),
            "n_nodes",
            F.col("dsum").alias("degree_sum"),
            F.expr("CAST(coalesce(e2, 0) DIV 2 AS BIGINT)").alias(
                "intra_edges"
            ),
            F.expr(
                "CAST(round(1000000.0 * ("
                "CAST(coalesce(e2, 0) AS DOUBLE) / m2"
                " - (CAST(dsum AS DOUBLE) / m2)"
                " * (CAST(dsum AS DOUBLE) / m2))) AS BIGINT)"
            ).alias("modq_micro"),
        )
    )


# --------------------------------------------------------------------------
# k-core decomposition by fixed-round peeling
# --------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Chained-CTE replay of the fixed-round k-core peel."""
    its = []
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        its.append(
            f"""k{r} AS (
    SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
),
e{r} AS (
    SELECT e.src, e.dst
    FROM {prev} e
    JOIN k{r} a ON a.src = e.src
    JOIN k{r} b ON b.src = e.dst
)"""
        )
        prev = f"e{r}"
    chained = ",\n".join(its)
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
e0 AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
{chained}
SELECT src AS node_id,
       CASE WHEN src % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(src // 2 AS BIGINT) AS entity_key,
       CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev}
GROUP BY src
ORDER BY node_id
"""


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the supplier–part bipartite graph by {r} fixed
    peeling rounds: each round drops every node whose CURRENT degree is
    below {k}, then removes edges touching dropped nodes — the cascade
    (dropping weak parts starves suppliers, and vice versa) is exactly
    why k-core needs iteration. Community/abuse pipelines run this to
    isolate the densely-engaged core before further graph work.

    Determinism: pure counting — no floats anywhere. Fixed round count
    (the PageRank discipline) so the chained-CTE oracle replays the
    identical dataflow; on this graph the peel is stable well before
    round {r}.

    Scale shape: per round, one partial-aggregated degree count plus
    two semi-join-shaped edge filters, all keyed on node id; edges are
    localCheckpoint-ed per round so plans stay flat. O(rounds × |E|)
    shuffled bytes, no driver materialization.
    """
    edges = _cosupply_edges(spark, sf_dir).select("src", "dst")
    for r in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(keep, "src")
            .join(
                keep.select(F.col("src").alias("dst")), "dst"
            )
            .select("src", "dst")
        )
        if r < _KCORE_ROUNDS - 1:
            # Rounds 1..n-1 checkpoint so each peel reads materialized
            # blocks instead of replaying the cascade. The FINAL round's
            # checkpoint was pure waste: it materialized every surviving
            # edge block only for the terminal degree count to re-read
            # them — letting the last peel pipeline straight into that
            # aggregate saves one full materialize+rescan of the edge
            # set (guide §1.2 "don't compute things you throw away";
            # measured 2.18 -> 1.72 s at sf0.1, 7.38 -> 6.44 s on the
            # 10x tiled fixture, r13).
            edges = edges.localCheckpoint(eager=True)
    return (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("src").alias("node_id"),
            F.when(F.col("src") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("part"))
            .alias("node_type"),
            (F.col("src") / 2).cast("long").alias("entity_key"),
            F.col("degree").cast("long").alias("degree"),
        )
        .orderBy("node_id")
    )


graph_kcore_peel.__doc__ = graph_kcore_peel.__doc__.format(
    k=_KCORE_K, r=_KCORE_ROUNDS
)


# --------------------------------------------------------------------------
# BFS distances — the ITERATIVE production twin of sql_bfs_distances
# --------------------------------------------------------------------------

_BFS_HOPS = 2  # must match relational_ext._BFS_SQL's depth bound


def _bfs_oracle() -> str:
    # Shared verbatim with the recursive-CTE form: both engines and both
    # dataflow shapes must produce the identical distance histogram.
    from .relational_ext import _BFS_SQL  # noqa: PLC0415

    return _BFS_SQL


@query("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances by ITERATIVE frontier joins — the production
    twin of ``sql_bfs_distances`` (same cyclic supplier–part graph, same
    seeds, same depth bound, same oracle SQL, cross-checked equal in
    tests/test_graph_bfs.py). Use THIS form when hops are deep or the
    traversal repeats: the recursive-CTE form re-evaluates the
    edge-building CTE on every UnionLoop iteration and enumerates the
    path MULTISET (frontier × mean-degree growth per hop, reduced to
    MIN(depth) only at the end), while this loop pays the edge scan
    once (localCheckpoint) and dedups the frontier EVERY hop — per-hop
    state is O(|V|), never O(paths). The CTE form remains the
    SQL-surface demonstration for ad-hoc bounded walks.

    Scale shape: one distinct-edge build, then per hop one keyed
    equi-join (frontier ⋈ edges, both shuffled on node id) + one
    left-anti against the visited set + a frontier distinct; edges are
    checkpointed so the plan stays flat across rounds. First-visit
    depth IS the min-hop distance (BFS layer property), so no terminal
    re-aggregation over paths exists at any scale.
    """
    edges = _cosupply_edges(spark, sf_dir).select("src", "dst")

    # Seeds: suppliers with suppkey % 100 == 0. Every supplier in the
    # pair set appears as an even src in the doubled fixture, so this
    # filter over checkpointed edge blocks equals the original
    # pairs-derived seed set without another lineitem scan.
    visited = (
        edges.filter(
            (F.col("src") % 2 == 0) & (F.expr("src DIV 2") % 100 == 0)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for depth in range(1, _BFS_HOPS + 1):
        reached = (
            # shuffle_hash: see the landmark-BFS loop — edges keep the
            # fixture's hash(src) partitioning, the frontier is the
            # only side that moves per hop.
            frontier.join(
                edges.hint("shuffle_hash"),
                frontier["node"] == edges["src"],
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = (
            reached.join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth))
        )
        # Mid-walk hops checkpoint (fresh feeds the next hop's frontier
        # AND anti-join; visited feeds every later anti-join). On the
        # FINAL hop both frames have exactly one consumer — the terminal
        # layer-count aggregate — so their eager materialize+rescan was
        # pure waste (the kcore final-round lesson, r13; guide §1.2).
        if depth < _BFS_HOPS:
            fresh = fresh.localCheckpoint(eager=True)
        visited = visited.unionByName(fresh)
        if depth < _BFS_HOPS:
            visited = visited.localCheckpoint(eager=True)
        frontier = fresh.select("node")
    return (
        visited.groupBy("hops")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum((F.col("node") % 2 == 0).cast("long"))
            .cast("long")
            .alias("n_suppliers"),
        )
        .select(F.col("hops").cast("int").alias("hops"), "n_nodes", "n_suppliers")
        .orderBy("hops")
    )


# --------------------------------------------------------------------------
# Landmark closeness centrality — labeled multi-source BFS + harmonic sum
# --------------------------------------------------------------------------

_LM_SUPPS = (1, 2, 3, 4)  # landmark suppliers (doubled node ids 2,4,6,8)
_LM_HOPS = 3


def _closeness_oracle() -> str:
    """Chained-CTE replay of the labeled multi-source BFS + harmonic
    reduction (frontier per hop = previous hop's FRESH rows only)."""
    its = []
    for k in range(1, _LM_HOPS + 1):
        its.append(
            f"""r{k} AS (
    SELECT DISTINCT e.dst AS node, f.lm
    FROM v{k - 1} f JOIN e0 e ON e.src = f.node
    WHERE f.dist = {k - 1}
),
v{k} AS (
    SELECT node, lm, dist FROM v{k - 1}
    UNION ALL
    SELECT r.node, r.lm, {k} FROM r{k} r
    WHERE NOT EXISTS (SELECT 1 FROM v{k - 1} x
                      WHERE x.node = r.node AND x.lm = r.lm)
)"""
        )
    chained = ",\n".join(its)
    lm_nodes = ", ".join(str(s * 2) for s in _LM_SUPPS)
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
e0 AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
v0 AS (
    SELECT DISTINCT src AS node, src AS lm, 0 AS dist FROM e0
    WHERE src IN ({lm_nodes})
),
{chained}
SELECT node AS node_id,
       CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST(SUM(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reached,
       CAST(SUM(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)
           AS BIGINT) AS harm_micro
FROM v{_LM_HOPS}
GROUP BY node
"""


def _landmark_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized labeled multi-source BFS state from the landmark
    suppliers: (node, lm, dist, sigma) with dist the first-visit hop
    (= min distance) and sigma the EXACT shortest-path count (σ(v) =
    Σ σ(pred) over the previous layer — order-insensitive integer
    sums). Shared by graph_closeness_landmark (ignores sigma) and
    graph_betweenness_sampled (forward pass), so bench/parity reruns
    pay the BFS once per session and input."""

    def build():
        edges = _cosupply_edges(spark, sf_dir).select("src", "dst")
        lm_nodes = [s * 2 for s in _LM_SUPPS]
        visited = (
            edges.filter(F.col("src").isin(lm_nodes))
            .select(F.col("src").alias("node"))
            .distinct()
            .select(
                "node",
                F.col("node").alias("lm"),
                F.lit(0).alias("dist"),
                F.lit(1).cast("long").alias("sigma"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = visited.select("node", "lm", "sigma")
        for depth in range(1, _LM_HOPS + 1):
            reached = (
                # shuffle_hash: edges ride the fixture's hash(src)
                # partitioning — no per-hop edge exchange or SMJ sort
                # (r12 optimization round, same A/B as the backward pass).
                frontier.join(
                    edges.hint("shuffle_hash"),
                    frontier["node"] == edges["src"],
                )
                .groupBy(F.col("dst").alias("node"), F.col("lm"))
                .agg(F.sum("sigma").cast("long").alias("sigma"))
            )
            fresh = (
                reached.join(
                    visited.select("node", "lm"), ["node", "lm"], "left_anti"
                )
                .withColumn("dist", F.lit(depth))
                .select("node", "lm", "dist", "sigma")
                .localCheckpoint(eager=True)
            )
            visited = visited.unionByName(fresh).localCheckpoint(eager=True)
            frontier = fresh.select("node", "lm", "sigma")
        return visited

    return artifact(spark, "landmark_bfs", sf_dir, ("lineitem",), build)


@query("graph_closeness_landmark", oracle=_closeness_oracle())
def graph_closeness_landmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark (harmonic) closeness centrality: exact hop distances
    from {nl} fixed landmark suppliers by LABELED multi-source BFS,
    reduced per node to Σ 1e6 DIV d(v, landmark) — the standard
    scalable stand-in for full closeness (exact APSP is O(V·E);
    landmark sketches are how production graph stacks — GraphFrames'
    shortest-paths, Neo4j's harmonic variant — bound it), and the
    harmonic form handles disconnection without a convention (absent
    pairs just add 0; Boldi & Vigna 2014, "Axioms for centrality").

    Determinism: pure integer counting — the per-(node, landmark)
    first-visit hop IS the min distance (BFS layer property), dedup is
    set-semantics anti-join, and the harmonic term is a truncating
    integer division summed order-insensitively. The chained-CTE
    oracle replays hop-for-hop (fresh-frontier discipline shared with
    graph_bfs_distances).

    Scale shape: state is O(V·L) (node, landmark) pairs with L fixed
    at {nl} — the knob that bounds the blowup; per hop one keyed
    equi-join (frontier ⋈ checkpointed edges, both shuffled on node
    id), one composite-key left-anti, one distinct-keyed aggregation.
    No per-path enumeration exists at any depth: fresh rows per hop
    are capped by V·L, never by path multiplicity. At 100 TB, L
    scales with cluster budget and landmarks shard by hash — same
    plan. The BFS state is the session-memoized _landmark_bfs fixture
    shared with graph_betweenness_sampled (one traversal, two
    centralities).
    """
    visited = _landmark_bfs(spark, sf_dir)
    return (
        visited.groupBy("node")
        .agg(
            F.sum((F.col("dist") > 0).cast("long"))
            .cast("long")
            .alias("n_reached"),
            F.sum(
                F.expr(
                    "CASE WHEN dist > 0 THEN 1000000 DIV dist ELSE 0 END"
                )
            )
            .cast("long")
            .alias("harm_micro"),
        )
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("part")
            .alias("node_type"),
            F.expr("node DIV 2").cast("long").alias("entity_key"),
            "n_reached",
            "harm_micro",
        )
    )


graph_closeness_landmark.__doc__ = graph_closeness_landmark.__doc__.format(
    nl=len(_LM_SUPPS)
)


# --------------------------------------------------------------------------
# Sampled betweenness centrality — truncated Brandes from the landmarks
# --------------------------------------------------------------------------


def _betweenness_oracle() -> str:
    """Chained-CTE replay: forward labeled BFS carrying exact σ path
    counts, then the backward Brandes accumulation level-by-level."""
    fwd = []
    for k in range(1, _LM_HOPS + 1):
        fwd.append(
            f"""c{k} AS (
    SELECT e.dst AS node, f.lm, CAST(SUM(f.sigma) AS BIGINT) AS sigma
    FROM v{k - 1} f JOIN e0 e ON e.src = f.node
    WHERE f.dist = {k - 1}
    GROUP BY e.dst, f.lm
),
v{k} AS (
    SELECT node, lm, dist, sigma FROM v{k - 1}
    UNION ALL
    SELECT c.node, c.lm, {k}, c.sigma FROM c{k} c
    WHERE NOT EXISTS (SELECT 1 FROM v{k - 1} x
                      WHERE x.node = c.node AND x.lm = c.lm)
)"""
        )
    vh = f"v{_LM_HOPS}"
    bwd = [
        f"""d{_LM_HOPS} AS (
    SELECT node, lm, CAST(0 AS BIGINT) AS delta
    FROM {vh} WHERE dist = {_LM_HOPS}
)"""
    ]
    for k in range(_LM_HOPS - 1, 0, -1):
        bwd.append(
            f"""d{k} AS (
    SELECT p.node, p.lm,
           CAST(COALESCE(SUM(
               (p.sigma * (1000000 + s.delta)) // w.sigma
           ), 0) AS BIGINT) AS delta
    FROM (SELECT * FROM {vh} WHERE dist = {k}) p
    LEFT JOIN e0 e ON e.src = p.node
    LEFT JOIN (SELECT * FROM {vh} WHERE dist = {k + 1}) w
           ON w.node = e.dst AND w.lm = p.lm
    LEFT JOIN d{k + 1} s ON s.node = w.node AND s.lm = w.lm
    GROUP BY p.node, p.lm
)"""
        )
    out_union = "\n    UNION ALL\n".join(
        f"    SELECT node, lm, delta FROM d{k}"
        for k in range(1, _LM_HOPS + 1)
    )
    lm_nodes = ", ".join(str(s * 2) for s in _LM_SUPPS)
    chained = ",\n".join(fwd + bwd)
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_suppkey AS suppkey, l_partkey AS partkey FROM lineitem
),
e0 AS (
    SELECT suppkey * 2 AS src, partkey * 2 + 1 AS dst FROM pairs
    UNION ALL
    SELECT partkey * 2 + 1 AS src, suppkey * 2 AS dst FROM pairs
),
v0 AS (
    SELECT DISTINCT src AS node, src AS lm, 0 AS dist,
           CAST(1 AS BIGINT) AS sigma
    FROM e0 WHERE src IN ({lm_nodes})
),
{chained},
contrib AS (
{out_union}
)
SELECT node AS node_id,
       CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(SUM(delta) AS BIGINT) AS bc_micro
FROM contrib
GROUP BY node
"""


@query("graph_betweenness_sampled", oracle=_betweenness_oracle())
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled betweenness centrality: Brandes' algorithm (2001) run
    from the {nl} fixed landmark suppliers, truncated at {h} hops —
    the broker/bottleneck centrality that completes the family
    (PageRank = flow importance, HITS = mutual endorsement, closeness
    = reachability, THIS = who sits on the shortest paths). Sampling
    sources and bounding depth is the standard production estimator
    (Bader et al. 2007 / Riondato–Kornaropoulos); at full source
    coverage it IS Brandes.

    All-integer Brandes: the forward labeled BFS carries EXACT int64
    shortest-path counts σ (σ(v) = Σ σ(pred) over the previous layer —
    order-insensitive integer sums; first-visit layer = min distance),
    and the backward pass accumulates dependency level-by-level in
    micro-units: δ(v) = Σ over layer-(d+1) successors w of
    σ_v·(1e6 + δ_w) DIV σ_w — truncating integer division (defined
    semantics), each level a pure integer aggregation, so the whole
    recurrence is bit-identical on any partitioning and the chained-
    CTE oracle replays it. σ ≤ deg_maxᵈ⁻¹ and each backward product
    ≤ σ_v·1e6·(1+deg_max) — int64-safe while deg_max ≲ 1e4 at {h}
    hops (fixture tripwired an order of magnitude inside).

    Scale shape: forward = the session-memoized _landmark_bfs fixture
    (O(V·L) labeled BFS shared with graph_closeness_landmark — one
    traversal, two centralities) carrying one integer sum per fresh
    node; backward = per level one 3-way keyed join (layer-d nodes ⋈
    edges ⋈ layer-(d+1) deltas, all shuffled on node id) and a
    partial-aggregated groupBy. The source count L is the sampling
    knob; nothing enumerates paths.
    """
    edges = _cosupply_edges(spark, sf_dir).select("src", "dst")
    visited = _landmark_bfs(spark, sf_dir)
    # Backward Brandes accumulation, deepest layer first. The deepest
    # layer's delta is zero by construction.
    layer = {
        d: visited.filter(F.col("dist") == d).select("node", "lm", "sigma")
        for d in range(1, _LM_HOPS + 1)
    }
    delta = layer[_LM_HOPS].select(
        "node", "lm", F.lit(0).cast("long").alias("delta")
    )
    contribs = [delta]
    for d in range(_LM_HOPS - 1, 0, -1):
        p = layer[d].select(
            F.col("node").alias("v"),
            "lm",
            F.col("sigma").alias("sigma_v"),
        )
        w = (
            layer[d + 1]
            .join(delta, ["node", "lm"])
            .select(
                F.col("node").alias("wnode"),
                "lm",
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
        )
        terms = (
            # shuffle_hash: edges already ride the fixture's hash(src)
            # partitioning, so the hash join plans with no edge exchange
            # and no per-level SMJ sort of the O(|E|) side (the
            # pagerank/wedge rationale; r12 A/B in OPTIMIZATION_r12.md).
            p.join(edges.hint("shuffle_hash"), p["v"] == edges["src"], "left")
            .join(
                w,
                (F.col("dst") == w["wnode"]) & (p["lm"] == w["lm"]),
                "left",
            )
            .select(
                "v",
                p["lm"].alias("lm"),
                F.expr(
                    "(sigma_v * (1000000 + delta_w)) DIV sigma_w"
                ).alias("term"),
            )
        )
        delta = (
            terms.groupBy(F.col("v").alias("node"), "lm")
            .agg(
                F.coalesce(F.sum("term"), F.lit(0))
                .cast("long")
                .alias("delta")
            )
            .localCheckpoint(eager=True)
        )
        contribs.append(delta)
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return allc.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("delta").cast("long").alias("bc_micro"),
    ).select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, "supplier")
        .otherwise("part")
        .alias("node_type"),
        F.expr("node DIV 2").cast("long").alias("entity_key"),
        "n_sources",
        "bc_micro",
    )


graph_betweenness_sampled.__doc__ = graph_betweenness_sampled.__doc__.format(
    nl=len(_LM_SUPPS), h=_LM_HOPS
)


# --------------------------------------------------------------------------
# Link prediction: resource-allocation index over the bipartite graph
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# HITS (hubs & authorities) over the DIRECTED supplier→part graph
# --------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_SCALE = 1_000_000


def hits_sweeps(sp: DataFrame, iters: int = _HITS_ITERS) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999) over any distinct directed
    (supp, part) bipartite edge frame: suppliers are hubs, parts are
    authorities — the textbook co-citation use. Per sweep:
    a_raw(p) = Σ over edges s→p of h(s), rescaled to
    a(p) = a_raw·SCALE DIV max(a_raw); then h_raw(s) = Σ over edges
    s→p of a(p), rescaled likewise. Returns
    (node_type, entity_key, score_units) for both sides.

    Exactness: every reduction is an int64 SUM or MAX — both
    order-insensitive — and the rescale is truncating integer division
    by an exact max, so the whole recurrence is bit-identical on any
    partitioning and replayed verbatim by the chained-CTE oracle (the
    graph_pagerank discipline; max-rescaling replaces PR's damping as
    the growth bound: scores stay ≤ 1e6 so raw ≤ deg_max·1e6, and the
    binding constraint is the rescale's pre-division multiply
    raw·SCALE ≤ deg_max·1e12 — int64-safe to ~9.2e6-degree hubs, past
    which Spark's non-ANSI arithmetic would wrap while DuckDB raises;
    tests/test_round12.py tripwires the fixture's max degree an order
    of magnitude inside that pole, the _WELCH_A_PIN discipline).
    Scale shape: the shared
    checkpointed (supp, part) fixture (zero extra fact scans), two
    keyed aggregations per sweep riding its partitioning, and per
    rescale one exact-max Observation riding the sweep's checkpoint
    job (a bounded 1-row driver scalar, re-injected as a literal). Each raw score table is
    localCheckpoint'd per sweep (the graph_kcore_peel round-boundary
    discipline): the max-rescale reads its input TWICE (values + the
    1-row max), so an unbroken lineage DOUBLES the subtree per stage —
    2^(2·sweeps) static-plan copies of the first aggregation (68
    shuffles at 2 sweeps, measured); truncating at the round boundary
    keeps the plan linear, and the materialized per-side score tables
    are exactly the state any iterative engine holds between sweeps
    anyway."""
    from pyspark.sql import Observation  # noqa: PLC0415

    h = sp.select("supp").distinct().withColumn(
        "h", F.lit(_HITS_SCALE).cast("long")
    )
    a = None
    # Each rescale's exact MAX rides the per-sweep checkpoint job as an
    # Observation and is injected as a LITERAL into the next expression
    # (r12 optimization round): the previous crossJoin(broadcast(1-row
    # max)) shape paid a broadcast exchange + a second read of the raw
    # table per rescale — 4 per execution; the observed max is the same
    # deterministic exact integer (the oracle's MAX subquery), measured
    # ~2.6 s → ~2.2 s warm at sf0.1.
    for _ in range(iters):
        a_obs = Observation()
        a_raw = (
            sp.join(h, "supp")
            .groupBy("part")
            .agg(F.sum("h").cast("long").alias("raw"))
            .observe(a_obs, F.max("raw").alias("mx"))
            .localCheckpoint(eager=True)
        )
        a_mx = int(a_obs.get["mx"])
        a = a_raw.select(
            "part", F.expr(f"(raw * {_HITS_SCALE}) DIV {a_mx}").alias("a")
        )
        h_obs = Observation()
        h_raw = (
            sp.join(a, "part")
            .groupBy("supp")
            .agg(F.sum("a").cast("long").alias("raw"))
            .observe(h_obs, F.max("raw").alias("mx"))
            .localCheckpoint(eager=True)
        )
        h_mx = int(h_obs.get["mx"])
        h = h_raw.select(
            "supp", F.expr(f"(raw * {_HITS_SCALE}) DIV {h_mx}").alias("h")
        )
    hubs = h.select(
        F.lit("supplier").alias("node_type"),
        F.col("supp").alias("entity_key"),
        F.col("h").cast("long").alias("score_units"),
    )
    auths = a.select(
        F.lit("part").alias("node_type"),
        F.col("part").alias("entity_key"),
        F.col("a").cast("long").alias("score_units"),
    )
    return hubs.unionByName(auths)


def _hits_oracle() -> str:
    """Chained-CTE replay of the integer HITS recurrence."""
    its = []
    prev_h = "h0"
    prev_a = None
    for k in range(1, _HITS_ITERS + 1):
        its.append(
            f"""a{k}raw AS (
    SELECT p.part, SUM(h.h) AS raw
    FROM pairs p JOIN {prev_h} h ON h.supp = p.supp
    GROUP BY p.part
),
a{k} AS (
    SELECT part, (raw * {_HITS_SCALE}) // (SELECT MAX(raw) FROM a{k}raw)
           AS a
    FROM a{k}raw
),
h{k}raw AS (
    SELECT p.supp, SUM(a.a) AS raw
    FROM pairs p JOIN a{k} a ON a.part = p.part
    GROUP BY p.supp
),
h{k} AS (
    SELECT supp, (raw * {_HITS_SCALE}) // (SELECT MAX(raw) FROM h{k}raw)
           AS h
    FROM h{k}raw
)"""
        )
        prev_h = f"h{k}"
        prev_a = f"a{k}"
    chained = ",\n".join(its)
    return f"""
WITH pairs AS (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS supp,
                    CAST(l_partkey AS BIGINT) AS part
    FROM lineitem
),
h0 AS (
    SELECT DISTINCT supp, CAST({_HITS_SCALE} AS BIGINT) AS h FROM pairs
),
{chained}
SELECT 'supplier' AS node_type, supp AS entity_key,
       CAST(h AS BIGINT) AS score_units
FROM {prev_h}
UNION ALL
SELECT 'part', part, CAST(a AS BIGINT) FROM {prev_a}
"""


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed supplier→part graph:
    which suppliers stock the important catalog (hubs) and which parts
    are stocked by the important suppliers (authorities) — mutually
    recursive centrality that PageRank's single score conflates, and
    the classic bipartite co-citation analysis. See hits_sweeps for the
    integer-exact recurrence and the 100 TB shape (shared checkpointed
    pair fixture, two keyed aggs per sweep, 1-row max broadcasts)."""
    sp = _supplier_part_pairs(spark, sf_dir)
    return hits_sweeps(sp, _HITS_ITERS)


# Distinct (supp, part) pair table shared by BOTH link-prediction
# queries (RA and Jaccard): the fact-scan + distinct is their dominant
# fixed cost, so it is materialized ONCE per (session, sf_dir) —
# repartitioned on `part` BEFORE the eager localCheckpoint, so the
# LogicalRDD carries that partitioning and the wedge SELF-JOINS (and
# the part-degree aggregations) plan with ZERO additional exchanges.


def _supplier_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        li = table(spark, sf_dir, "lineitem")
        sp = (
            li.select(
                F.col("l_suppkey").cast("long").alias("supp"),
                F.col("l_partkey").cast("long").alias("part"),
            )
            .distinct()
            .repartition("part")
            .localCheckpoint(eager=True)
        )
        return sp

    return artifact(spark, "supplier_part_pairs", sf_dir, ("lineitem",), build)


_RA_HUB_CAP = 50  # parts supplied by more suppliers than this are hubs
_RA_TOP = 20

_RA_ORACLE = f"""
WITH sp AS (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS supp,
                    CAST(l_partkey AS BIGINT) AS part
    FROM lineitem
),
deg AS (
    SELECT part, CAST(COUNT(*) AS BIGINT) AS d
    FROM sp GROUP BY part
    HAVING COUNT(*) BETWEEN 2 AND {_RA_HUB_CAP}
),
wedges AS (
    SELECT a.supp AS supp_a, b.supp AS supp_b,
           CAST(round(1000000.0 / deg.d) AS BIGINT) AS w_micro
    FROM sp a
    JOIN sp b ON a.part = b.part AND a.supp < b.supp
    JOIN deg ON deg.part = a.part
),
scored AS (
    SELECT supp_a, supp_b,
           CAST(SUM(w_micro) AS BIGINT) AS ra_micro,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM wedges GROUP BY 1, 2
)
SELECT supp_a, supp_b, n_common, ra_micro
FROM scored
ORDER BY ra_micro DESC, supp_a, supp_b
LIMIT {_RA_TOP}
"""


@query("graph_linkpred_ra", oracle=_RA_ORACLE)
def graph_linkpred_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou et al.
    2009 — Adamic-Adar's 1/deg sibling): which supplier pairs are most
    strongly connected through shared parts? RA(u,v) = Σ 1/deg(w) over
    common neighbors w, here parts both suppliers ship.

    RA is chosen over Adamic-Adar deliberately: 1/deg is an exact
    rational on an integer degree, so each wedge's weight is an exact
    integer micro-unit and the pair score an exact bigint sum on any
    partitioning — AA's 1/ln(deg) would put cross-engine libm variance
    into the hash gate for no analytical gain.

    Scale shape: wedge enumeration through a common neighbor w costs
    deg(w)², so super-hubs dominate Σ deg² — the standard fix (and the
    same move graph_triangles' DF cap makes) is to drop hub
    intermediaries (deg > {cap} here): they contribute ≤ 1/{cap} per
    wedge to a score while generating quadratic candidates, the exact
    stopword-shingle economics of dedup's LSH tiers. After the cap the
    plan is one distinct-pair projection of the fact table, a bounded
    self-join keyed on part (co-partitioned, one shuffle), and a
    partial-aggregated pair rollup; the global top-{top} is
    TakeOrderedAndProject, never a full sort.
    """
    sp = _supplier_part_pairs(spark, sf_dir)
    scored = ra_scored_pairs(sp)
    return (
        scored.orderBy(F.col("ra_micro").desc(), "supp_a", "supp_b")
        .limit(_RA_TOP)
        .select("supp_a", "supp_b", "n_common", "ra_micro")
    )


def ra_scored_pairs(
    sp: DataFrame,
    hub_cap: int = _RA_HUB_CAP,
    wedge_observation=None,
) -> DataFrame:
    """RA scoring core over any distinct (supp, part) bipartite edge
    frame: degree-capped wedge self-join keyed on the shared neighbor,
    exact integer micro-weights 1/deg. Volume invariants (proven at 1M
    edges by tests/test_scale_smoke.py): wedge count == Σ C(d, 2) and
    Σ ra_micro over all pairs == Σ C(d, 2)·round(1e6/d) over kept
    degrees — the closed forms the hub cap is sized against.

    The hub cap is PHYSICAL, not just logical: the kept-parts list is
    joined onto BOTH inputs of the self-join (plain join carrying
    w_micro on one side, left-semi on the other), so a super-hub part
    never enters the wedge expansion at all. The naive formulation —
    self-join first, cap-join after — passes every output assertion
    while still materializing ~d²/2 intermediate rows per hub, because
    Catalyst executes joins in the written order (no CBO reorder);
    tests/test_round11_plans.py pins the fixed shape with a plan-walk
    AND an Observation row counter on the wedge stage.

    ``wedge_observation``: an optional ``pyspark.sql.Observation``;
    when given, a count metric named ``wedges`` is attached to the
    post-join wedge stage so tests can assert the INTERMEDIATE volume
    (== Σ C(d_kept, 2)), which output-side assertions cannot see."""
    deg = (
        sp.groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .filter((F.col("d") >= 2) & (F.col("d") <= hub_cap))
        .withColumn(
            "w_micro",
            F.expr("CAST(round(1000000.0 / d) AS BIGINT)"),
        )
    )
    kept = deg.select("part", "w_micro")
    a = sp.join(kept, "part").select(
        "part", "w_micro", F.col("supp").alias("supp_a")
    )
    b = sp.join(kept.select("part"), "part", "semi").select(
        "part", F.col("supp").alias("supp_b")
    )
    # shuffle_hash on the probe side — the jaccard_minhash wedge join's
    # measured choice, applied here in the r12 optimization round (A/B
    # isolated at sf0.1: ~2.8 s → ~1.4 s): AQE otherwise broadcasts the
    # O(|E|) probe frame through the driver at test SFs (the exact
    # anti-pattern the broadcast lint exists for) and falls back to a
    # sort-merge (paying a sort of Σd rows) at fact scale. Both sides
    # already ride the fixture's hash(part) clustering, so the hash join
    # plans with zero extra exchanges at any SF.
    wedges = a.join(b.hint("shuffle_hash"), "part").filter(
        F.col("supp_a") < F.col("supp_b")
    )
    if wedge_observation is not None:
        wedges = wedges.observe(
            wedge_observation, F.count(F.lit(1)).alias("wedges")
        )
    return wedges.groupBy("supp_a", "supp_b").agg(
        F.sum("w_micro").cast("long").alias("ra_micro"),
        F.count(F.lit(1)).cast("long").alias("n_common"),
    )


graph_linkpred_ra.__doc__ = graph_linkpred_ra.__doc__.format(
    cap=_RA_HUB_CAP, top=_RA_TOP
)


# --------------------------------------------------------------------------
# Link prediction II: neighbor-set Jaccard over the bipartite graph
# --------------------------------------------------------------------------

_JACC_TOP = 20

_JACC_ORACLE = f"""
WITH sp AS (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS supp,
                    CAST(l_partkey AS BIGINT) AS part
    FROM lineitem
),
pdeg AS (
    SELECT part FROM sp GROUP BY part HAVING COUNT(*) >= 2
),
sdeg AS (
    SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM sp GROUP BY supp
),
common AS (
    SELECT a.supp AS supp_a, b.supp AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM sp a
    JOIN sp b ON a.part = b.part AND a.supp < b.supp
    JOIN pdeg p ON p.part = a.part
    GROUP BY 1, 2
)
SELECT c.supp_a, c.supp_b, c.n_common,
       CAST(round(1000000.0 * c.n_common
                  / (da.d + db.d - c.n_common)) AS BIGINT) AS jaccard_micro
FROM common c
JOIN sdeg da ON da.supp = c.supp_a
JOIN sdeg db ON db.supp = c.supp_b
ORDER BY jaccard_micro DESC, supp_a, supp_b
LIMIT {_JACC_TOP}
"""


@query("graph_jaccard_neighbors", oracle=_JACC_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard — RA's normalized
    sibling: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| for supplier pairs over
    shared parts, an exact rational on three integer counts (micro-
    pinned, no float risk anywhere).

    Unlike graph_linkpred_ra's hub cap (safe there because a hub's
    per-wedge weight is negligible), Jaccard needs TRUE intersection
    counts, so this kernel drops only degree-1 parts — a LOSSLESS
    filter (they can't form a pair) that still prunes the long tail of
    the wedge join. Union sizes come from the per-supplier degree
    table joined twice on the pair endpoints; the global top-{top} is
    TakeOrderedAndProject. At 100 TB with genuine super-hubs switch to
    graph_jaccard_minhash — the registered hybrid that keeps this exact
    kernel below a degree cap and MinHash-estimates hub intersections
    above it (skew-proven against a 1500-degree super-hub).
    """
    sp = _supplier_part_pairs(spark, sf_dir)
    scored = jaccard_scored_pairs(sp)
    return (
        scored.orderBy(F.col("jaccard_micro").desc(), "supp_a", "supp_b")
        .limit(_JACC_TOP)
    )


def jaccard_scored_pairs(
    sp: DataFrame, wedge_observation=None
) -> DataFrame:
    """Jaccard scoring core over any distinct (supp, part) frame;
    closed-form-proven at volume (block design: every within-block pair
    scores exactly g/(g+2), cross-block pairs impossible, private
    degree-1 parts pruned losslessly) by tests/test_scale_smoke.py.

    The degree-1 prune is PHYSICAL: pdeg is left-semi-joined onto BOTH
    self-join inputs, so private parts never enter the wedge expansion
    (the prior expand-then-filter shape paid the full Σ d² before
    discarding — see ra_scored_pairs). ``wedge_observation`` attaches a
    ``wedges`` count metric to the post-join stage for intermediate-
    volume tests."""
    pdeg = (
        sp.groupBy("part")
        .agg(F.count(F.lit(1)).alias("pd"))
        .filter(F.col("pd") >= 2)
        .select("part")
    )
    sdeg = sp.groupBy("supp").agg(F.count(F.lit(1)).cast("long").alias("d"))
    sp_k = sp.join(pdeg, "part", "semi")
    a = sp_k.select("part", F.col("supp").alias("supp_a"))
    b = sp_k.select("part", F.col("supp").alias("supp_b"))
    # shuffle_hash on the probe side: same measured rationale as the
    # ra/jaccard_minhash wedge joins (r12 A/B isolated at sf0.1:
    # ~2.8 s → ~1.4 s; no driver-sized broadcast, no sort at scale).
    wedges = a.join(b.hint("shuffle_hash"), "part").filter(
        F.col("supp_a") < F.col("supp_b")
    )
    if wedge_observation is not None:
        wedges = wedges.observe(
            wedge_observation, F.count(F.lit(1)).alias("wedges")
        )
    common = (
        wedges.groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    da = sdeg.select(F.col("supp").alias("supp_a"), F.col("d").alias("da"))
    db = sdeg.select(F.col("supp").alias("supp_b"), F.col("d").alias("db"))
    return (
        common.join(da, "supp_a")
        .join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_common",
            F.expr(
                "CAST(round(1000000.0 * n_common / (da + db - n_common))"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


graph_jaccard_neighbors.__doc__ = graph_jaccard_neighbors.__doc__.format(
    top=_JACC_TOP
)


# --------------------------------------------------------------------------
# Link prediction III: super-hub-safe Jaccard via hybrid exact/MinHash
# --------------------------------------------------------------------------

_JMH_HUB_CAP = 32  # parts with more suppliers than this take the sketch path
_JMH_TOP = 20


def _jmh_chub_expr(n_hashes: int) -> str:
    """Estimated hub-side intersection in milli-units from the MinHash
    match count: |A∩B| = J/(1+J)·(|A|+|B|) with J ≈ k/K, i.e.
    k·(nh_a+nh_b)/(K+k) — all-integer inputs, one deterministic double
    division, half-away pin. Zero when either side has no hub parts
    (the true hub intersection is then zero, not an estimate)."""
    return (
        "CASE WHEN nh_a = 0 OR nh_b = 0 OR k_match = 0"
        " THEN CAST(0 AS BIGINT)"
        " ELSE CAST(round(1000.0 * k_match * (nh_a + nh_b)"
        f" / ({n_hashes} + k_match)) AS BIGINT) END"
    )


# Full-set Jaccard from exact low-degree intersection + estimated hub
# intersection, both in milli-units: union = d_a + d_b − common.
# Denominator ≥ 1000 always (d ≥ 1, common ≤ min(d_a, d_b)).
_JMH_JACC_EXPR = (
    "CAST(round(1000000.0 * (1000 * n_common_lo + c_hub_milli)"
    " / (1000.0 * (d_a + d_b - n_common_lo) - c_hub_milli)) AS BIGINT)"
)


def _jmh_oracle() -> str:
    """DuckDB twin of the hybrid Jaccard pipeline — member-hash
    coefficients generated from the same table as the Spark
    expressions (dedup's portable multiply-add family)."""
    from .dedup import (  # noqa: PLC0415
        _LO30,
        _MEMBER_C,
        _member_coeffs,
        BAND_SIZE,
        N_HASHES,
    )

    member_rows = ",\n        ".join(
        f"({m}, {a}, {b})" for m, (a, b) in enumerate(_member_coeffs())
    )
    return f"""
WITH sp AS (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS supp,
                    CAST(l_partkey AS BIGINT) AS part
    FROM lineitem
),
pdeg AS (
    SELECT part, CAST(COUNT(*) AS BIGINT) AS pd FROM sp GROUP BY part
),
sdeg AS (
    SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM sp GROUP BY supp
),
lo AS (SELECT part FROM pdeg WHERE pd BETWEEN 2 AND {_JMH_HUB_CAP}),
hub AS (SELECT part FROM pdeg WHERE pd > {_JMH_HUB_CAP}),
cand_lo AS (
    SELECT a.supp AS supp_a, b.supp AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS n_lo
    FROM sp a
    JOIN sp b ON a.part = b.part AND a.supp < b.supp
    JOIN lo ON lo.part = a.part
    GROUP BY 1, 2
),
hsp AS (
    SELECT s.supp,
           ('0x' || substr(md5(CAST(s.part AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM sp s JOIN hub ON hub.part = s.part
),
nhub AS (
    SELECT supp, CAST(COUNT(*) AS BIGINT) AS nh FROM hsp GROUP BY supp
),
members(m, a, b) AS (
    VALUES {member_rows}
),
sig_rows AS (
    SELECT hsp.supp, mm.m,
           MIN((hsp.h >> 30) * mm.a + (hsp.h & {_LO30}) * mm.b
               + mm.m * {_MEMBER_C}) AS mh
    FROM hsp CROSS JOIN members mm
    GROUP BY 1, 2
),
bands AS (
    SELECT supp, m // {BAND_SIZE} AS band_idx,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY m) AS band_sig
    FROM sig_rows GROUP BY supp, m // {BAND_SIZE}
),
cand_hub AS (
    SELECT DISTINCT x.supp AS supp_a, y.supp AS supp_b
    FROM bands x
    JOIN bands y ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
              AND x.supp < y.supp
),
cand AS (
    SELECT supp_a, supp_b FROM cand_lo
    UNION
    SELECT supp_a, supp_b FROM cand_hub
),
kmatch AS (
    SELECT c.supp_a, c.supp_b, CAST(COUNT(*) AS BIGINT) AS k
    FROM cand c
    JOIN sig_rows sa ON sa.supp = c.supp_a
    JOIN sig_rows sb ON sb.supp = c.supp_b
                    AND sb.m = sa.m AND sb.mh = sa.mh
    GROUP BY 1, 2
),
scored AS (
    SELECT c.supp_a, c.supp_b,
           CAST(COALESCE(l.n_lo, 0) AS BIGINT) AS n_common_lo,
           CAST(COALESCE(k.k, 0) AS BIGINT) AS k_match,
           da.d AS d_a, db.d AS d_b,
           CAST(COALESCE(na.nh, 0) AS BIGINT) AS nh_a,
           CAST(COALESCE(nb.nh, 0) AS BIGINT) AS nh_b
    FROM cand c
    LEFT JOIN cand_lo l ON l.supp_a = c.supp_a AND l.supp_b = c.supp_b
    LEFT JOIN kmatch k ON k.supp_a = c.supp_a AND k.supp_b = c.supp_b
    JOIN sdeg da ON da.supp = c.supp_a
    JOIN sdeg db ON db.supp = c.supp_b
    LEFT JOIN nhub na ON na.supp = c.supp_a
    LEFT JOIN nhub nb ON nb.supp = c.supp_b
),
fin AS (
    SELECT supp_a, supp_b, n_common_lo, k_match,
           ({_jmh_chub_expr(N_HASHES)}) AS c_hub_milli,
           d_a, d_b
    FROM scored
)
SELECT supp_a, supp_b, n_common_lo, k_match,
       {_JMH_JACC_EXPR} AS jaccard_est_micro
FROM fin
ORDER BY jaccard_est_micro DESC, supp_a, supp_b
LIMIT {_JMH_TOP}
"""


@query("graph_jaccard_minhash", oracle=_jmh_oracle())
def graph_jaccard_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Super-hub-safe neighbor Jaccard — the 100 TB fallback
    graph_jaccard_neighbors documents: parts with degree ≤ {cap} take
    the exact wedge path (bounded Σ C(d,2) candidates), parts above it
    NEVER enter a wedge join — each supplier's hub-part set collapses
    to a {k}-member MinHash signature (dedup's portable md5 +
    multiply-add family, so the DuckDB oracle replays it hash-exact)
    and the hub-side intersection is estimated from the signature match
    count, |A∩B| ≈ k·(|A|+|B|)/(K+k). Candidates are the union of
    exact-side pairs and LSH band-bucket pairs over the hub
    signatures, so a part shared by a million suppliers contributes
    O(suppliers·K) signature rows instead of O(suppliers²) wedges.

    Scale shape: one distinct-pair projection (the shared cached
    fixture), a degree split, a capped self-join on low-degree parts,
    one K-column MIN aggregation over hub rows, a band self-join whose
    buckets shrink as hub-set similarity falls (identical hub sets
    always collide — that is LSH's contract, and such pairs' estimates
    are EXACT since their signatures agree everywhere), and a
    scoring pass joining degrees/signatures onto the candidate dust
    (unhinted — those tables are O(V); AQE broadcasts the small side at
    test scale and shuffle-joins at fact scale). Accuracy and
    skew-boundedness are pinned by a designed 1500-supplier volume test
    with a genuine 1500-degree super-hub
    (tests/test_round10_fuzz.py).
    """
    from .dedup import N_HASHES  # noqa: PLC0415

    sp = _supplier_part_pairs(spark, sf_dir)
    scored = jaccard_minhash_scored(sp)
    return scored.orderBy(
        F.col("jaccard_est_micro").desc(), "supp_a", "supp_b"
    ).limit(_JMH_TOP)


def jaccard_minhash_scored(
    sp: DataFrame,
    hub_cap: int = _JMH_HUB_CAP,
    wedge_observation=None,
) -> DataFrame:
    """Hybrid exact/MinHash Jaccard core over any distinct (supp, part)
    frame; see graph_jaccard_minhash.

    Two plan properties are load-bearing at 100 TB (round-11 fixes,
    pinned by tests/test_round11_plans.py):

    * the ≤cap `lo` filter is applied to BOTH wedge-join inputs BEFORE
      the self-join (left-semi each side), so a super-hub part never
      materializes intermediate wedges — the prior shape joined `lo`
      after the expansion and paid ~d²/2 rows per hub first;
    * none of the O(V) tables (lo/hub part lists, per-supplier degree
      and signature tables) carries a forced ``F.broadcast`` — they
      scale linearly with the graph, and a forced hint on a 10⁸-row
      "dimension" is a driver-heap OOM. AQE broadcasts them when they
      are actually small; the only residual hints in this file are
      provably bounded dust.

    ``wedge_observation`` attaches a ``wedges`` count metric to the
    exact-side post-join stage for intermediate-volume tests."""
    from .dedup import (  # noqa: PLC0415
        _member_coeffs,
        _member_hash_sql,
        BAND_SIZE,
        N_HASHES,
    )

    coeffs = list(enumerate(_member_coeffs()))
    n_bands = N_HASHES // BAND_SIZE
    pdeg = sp.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("pd")
    )
    lo = (
        pdeg.filter((F.col("pd") >= 2) & (F.col("pd") <= hub_cap))
        .select("part")
    )
    hub = pdeg.filter(F.col("pd") > hub_cap).select("part")
    sdeg = sp.groupBy("supp").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )

    sp_lo = sp.join(lo, "part", "semi")
    a = sp_lo.select("part", F.col("supp").alias("supp_a"))
    b = sp_lo.select("part", F.col("supp").alias("supp_b"))
    # shuffle_hash, not AQE's choice: at test SFs AQE broadcasts the
    # ~|E| probe side (a corpus-sized frame through the driver — the
    # exact anti-pattern the broadcast lint exists for, and slower:
    # isolated 1.9 s → 1.5 s); at fact scale it would fall back to
    # sort-merge and pay a sort. Both sides already ride the fixture's
    # hash(part) clustering, so the hash join plans with zero extra
    # exchanges at any SF.
    wedges_lo = a.join(b.hint("shuffle_hash"), "part").filter(
        F.col("supp_a") < F.col("supp_b")
    )
    if wedge_observation is not None:
        wedges_lo = wedges_lo.observe(
            wedge_observation, F.count(F.lit(1)).alias("wedges")
        )
    cand_lo = (
        wedges_lo.groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lo"))
    )

    hsp = sp.join(hub, "part", "semi").select(
        "supp", md5_long(F.col("part"), digits=15).alias("h")
    )
    # The K-column MIN signature subtree is referenced four times
    # downstream (band explode ×2 via bx/by, signature re-join ×2 via
    # sa/sb) but deliberately NOT checkpointed: AQE's exchange reuse
    # already serves all four consumers from one runtime exchange, and
    # an r12 A/B (isolated min-of-6 at sf0.1) measured the lazy
    # localCheckpoint variant as a slight LOSS (3.23 s → 3.50 s) — the
    # block materialization costs more than the recompute it saves.
    # Member mins + band structs as generated SQL text (r13 §5 driver
    # overhead): ~420 Column-API round trips per build → 33 F.expr
    # parses; identical expressions.
    sig = hsp.groupBy("supp").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        *[
            F.expr(f"min({_member_hash_sql('h', m, am, bm)}) AS mh{m}")
            for m, (am, bm) in coeffs
        ],
    )
    band_structs = F.expr(
        "array("
        + ", ".join(
            "named_struct('band_idx', {i}, 'band_sig', concat_ws(',', {cols}))".format(
                i=i,
                cols=", ".join(
                    f"CAST(mh{m} AS STRING)"
                    for m in range(i * BAND_SIZE, (i + 1) * BAND_SIZE)
                ),
            )
            for i in range(n_bands)
        )
        + ")"
    )
    bands = sig.select("supp", F.explode(band_structs).alias("bs")).select(
        "supp", "bs.band_idx", "bs.band_sig"
    )
    bx = bands.select(
        F.col("supp").alias("supp_a"), "band_idx", "band_sig"
    )
    by = bands.select(
        F.col("supp").alias("supp_b"), "band_idx", "band_sig"
    )
    cand_hub = (
        bx.join(by, ["band_idx", "band_sig"])
        .filter(F.col("supp_a") < F.col("supp_b"))
        .select("supp_a", "supp_b")
        .distinct()
    )
    # Candidate set = exact-side pairs ∪ band pairs, built as ONE full
    # outer join so the wedge-join subtree appears once in the DAG (the
    # union+rejoin formulation planned it twice and added a distinct
    # shuffle — isolated min-of-3 at sf0.1: 3.8 s → 3.2 s) and n_lo
    # rides along.
    cand = cand_lo.join(cand_hub.withColumn("hc", F.lit(1)),
                        ["supp_a", "supp_b"], "full")

    sigarr = sig.select(
        "supp",
        "nh",
        F.expr(
            "array(" + ", ".join(f"mh{m}" for m in range(N_HASHES)) + ")"
        ).alias("sig"),
    )
    sa = sigarr.select(
        F.col("supp").alias("supp_a"),
        F.col("nh").alias("nh_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = sigarr.select(
        F.col("supp").alias("supp_b"),
        F.col("nh").alias("nh_b"),
        F.col("sig").alias("sig_b"),
    )
    da = sdeg.select(F.col("supp").alias("supp_a"), F.col("d").alias("d_a"))
    db = sdeg.select(F.col("supp").alias("supp_b"), F.col("d").alias("d_b"))
    scored = (
        cand.join(sa, "supp_a", "left")
        .join(sb, "supp_b", "left")
        .join(da, "supp_a")
        .join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            F.coalesce("n_lo", F.lit(0)).cast("long").alias("n_common_lo"),
            F.expr(
                "CASE WHEN sig_a IS NULL OR sig_b IS NULL"
                " THEN CAST(0 AS BIGINT)"
                " ELSE CAST(size(filter(zip_with(sig_a, sig_b,"
                " (x, y) -> x = y), v -> v)) AS BIGINT) END"
            ).alias("k_match"),
            F.coalesce("nh_a", F.lit(0)).cast("long").alias("nh_a"),
            F.coalesce("nh_b", F.lit(0)).cast("long").alias("nh_b"),
            "d_a",
            "d_b",
        )
    )
    fin = scored.select(
        "supp_a",
        "supp_b",
        "n_common_lo",
        "k_match",
        F.expr(_jmh_chub_expr(N_HASHES)).alias("c_hub_milli"),
        "d_a",
        "d_b",
    )
    return fin.select(
        "supp_a",
        "supp_b",
        "n_common_lo",
        "k_match",
        F.expr(_JMH_JACC_EXPR).alias("jaccard_est_micro"),
    )


graph_jaccard_minhash.__doc__ = graph_jaccard_minhash.__doc__.format(
    cap=_JMH_HUB_CAP, k=32
)


# --------------------------------------------------------------------------
# Graph topology metrics: global clustering coefficient + assortativity
# --------------------------------------------------------------------------

_CLUST_ORACLE = f"""{_TRI_CTE_PREFIX},
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS n FROM pairs UNION ALL SELECT doc_b FROM pairs
    ) GROUP BY n
),
eo AS (
    SELECT CASE WHEN (da.d, p.doc_a) < (db.d, p.doc_b)
                THEN p.doc_a ELSE p.doc_b END AS u,
           CASE WHEN (da.d, p.doc_a) < (db.d, p.doc_b)
                THEN p.doc_b ELSE p.doc_a END AS v
    FROM pairs p
    JOIN deg da ON da.n = p.doc_a
    JOIN deg db ON db.n = p.doc_b
),
tri AS (
    SELECT t1.u FROM eo t1
    JOIN eo t2 ON t2.u = t1.v
    JOIN eo t3 ON t3.u = t1.u AND t3.v = t2.v
),
agg AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(SUM(CAST(floor(d * (d - 1) / 2.0) AS BIGINT))
                   AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges = 0 THEN NULL
            ELSE CAST(round(1000000.0 * 3.0 * n_triangles / n_wedges)
                 AS BIGINT) END AS clustering_micro
FROM agg
"""


@query("graph_clustering_global", oracle=_CLUST_ORACLE)
def graph_clustering_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the
    near-duplicate pair graph: C = 3·triangles / wedges — the one
    number that says whether near-dup pairs clump into dense boilerplate
    clusters (C → 1, canonical-corpus picking pays off) or form thin
    chains (C → 0, pairwise dedup suffices). Composes the two existing
    exact kernels: the session-shared DF-capped pair graph
    (_dedup_pair_edges — ONE materialization serves this and
    graph_triangles) and the degree-ordered triangle enumeration
    (oriented_triangles, O(sqrt(E)) wedge fan-out per node).

    Exactness: triangles and wedges are exact integer counts; wedges
    Σ d(d−1)/2 is exact through the double floor (integer-valued and
    < 2^53 for d < 9.4e7); the coefficient is one deterministic double
    division micro-pinned, NULL on the wedge-free degenerate graph.
    """
    return clustering_global_from(_dedup_pair_edges(spark, sf_dir))


def clustering_global_from(pairs: DataFrame) -> DataFrame:
    """Transitivity core over any undirected (doc_a, doc_b) edge list
    (each edge once, endpoints distinct); see graph_clustering_global.
    Closed-form-tested on K4 (C = 1) and a path (C = 0)."""
    deg = (
        pairs.select(F.col("doc_a").alias("n"))
        .unionAll(pairs.select(F.col("doc_b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    counts = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("CAST(floor(d * (d - 1) / 2.0) AS BIGINT)"))
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_tri = oriented_triangles(pairs).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return (
        counts.crossJoin(F.broadcast(n_edges))  # bounded: 1-row global aggregate
        .crossJoin(F.broadcast(n_tri))  # bounded: 1-row global aggregate
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN NULL"
                " ELSE CAST(round(1000000.0 * 3.0 * n_triangles"
                " / n_wedges) AS BIGINT) END"
            ).alias("clustering_micro"),
        )
    )


# Degree assortativity: Newman's r over the directed-both-ways edge
# list — the moments are exact bigints, the clearing products run in
# doubles cast from them (the int64 product would overflow first), and
# by symmetry Σx = Σy / Σx² = Σy², so one moment set serves both ends.
_ASSORT_R_EXPR = (
    "CASE WHEN CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0"
    " THEN NULL"
    " ELSE CAST(round(1000000.0"
    " * (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)"
    " / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    " AS BIGINT) END"
)

_ASSORT_ORACLE = f"""
WITH sp AS (
    SELECT DISTINCT CAST(l_suppkey * 2 AS BIGINT) AS src,
                    CAST(l_partkey * 2 + 1 AS BIGINT) AS dst
    FROM lineitem
),
und AS (
    SELECT src, dst FROM sp
    UNION ALL
    SELECT dst AS src, src AS dst FROM sp
),
deg AS (
    SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY src
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(da.d) AS BIGINT) AS sx,
           CAST(SUM(da.d * da.d) AS BIGINT) AS sxx,
           CAST(SUM(da.d * db.d) AS BIGINT) AS sxy
    FROM und e
    JOIN deg da ON da.n = e.src
    JOIN deg db ON db.n = e.dst
)
SELECT m AS n_directed_edges, sx, sxx, sxy,
       {_ASSORT_R_EXPR} AS assortativity_micro
FROM mom
"""


@query("graph_assortativity", oracle=_ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-supply bipartite
    graph: the Pearson correlation of endpoint degrees over the
    directed-both-ways edge list — positive means hubs link to hubs
    (a skew-join risk concentrates), negative means hubs fan out to
    leaves (bipartite fact graphs typically anti-correlate). The
    topology number that predicts whether the wedge-join family's hub
    caps will actually bind at 100 TB.

    Exactness: degrees are exact integer counts; the four moments
    (m, Σx, Σx², Σxy) are exact bigint sums on any partitioning
    (d² ≤ 2^63/|E| bounds degrees at ~3e6 for a billion-edge graph —
    past that, pre-scale like functions/exact.py documents); the
    clearing products (m·Σxy − ΣxΣy) run in doubles cast from exact
    bigints — the int64 product would overflow first (the CAPM
    lesson). By symmetry of the doubled edge list Σx = Σy and
    Σx² = Σy², so the correlation needs ONE moment set. Scale shape:
    the shared cached co-supply fixture, one degree tag joined per
    endpoint (unhinted — the degree table is O(V), so AQE picks the
    strategy; a forced broadcast would OOM the driver on a billion-node
    graph), one partial-aggregated global moment row. NULL on the
    regular-graph pole (zero degree variance).
    """
    edges = _cosupply_edges(spark, sf_dir).select("src", "dst")
    return assortativity_from(edges)


def assortativity_from(edges: DataFrame) -> DataFrame:
    """Assortativity core over any directed-both-ways (src, dst) edge
    list; see graph_assortativity. Closed-form-tested on a star graph
    (r = −1 exactly)."""
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("src"), F.col("d").alias("xd"))
    dd = deg.select(F.col("src").alias("dst"), F.col("d").alias("yd"))
    # deg is O(V) — never force-broadcast a table that scales with the
    # graph; AQE broadcasts it when it is actually small.
    mom = (
        edges.join(da, "src")
        .join(dd, "dst")
        .select(
            F.col("xd").cast("long").alias("xd"),
            F.col("yd").cast("long").alias("yd"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("xd").cast("long").alias("sx"),
            F.sum(F.col("xd") * F.col("xd")).cast("long").alias("sxx"),
            F.sum(F.col("xd") * F.col("yd")).cast("long").alias("sxy"),
        )
    )
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        "sx",
        "sxx",
        "sxy",
        F.expr(_ASSORT_R_EXPR).alias("assortativity_micro"),
    )
