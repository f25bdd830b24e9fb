"""The two BFS forms — recursive-CTE (SQL surface) and iterative
frontier joins (production path) — must agree exactly: same graph, same
seeds, same depth bound, same distance histogram. Round-7 verdict task:
the CTE form re-evaluates its edge CTE per hop, so the iterative twin
exists for deep/repeated traversals; this test pins their equivalence."""

from __future__ import annotations

from etl_pipeline_with_alpha_vantage_spark.operators.graph import (
    graph_bfs_distances,
)
from etl_pipeline_with_alpha_vantage_spark.operators.relational_ext import (
    sql_bfs_distances,
    sql_recursive_hierarchy,
)


def _rows(df):
    return sorted(
        (int(r.hops), int(r.n_nodes), int(r.n_suppliers))
        for r in df.collect()
    )


def test_iterative_bfs_equals_recursive_cte(spark, sf_dir):
    cte = _rows(sql_bfs_distances(spark, sf_dir))
    it = _rows(graph_bfs_distances(spark, sf_dir))
    assert it == cte
    assert len(it) >= 1
    # BFS layers: hop 0 is the seed set, all seeds are suppliers.
    hops0 = [r for r in it if r[0] == 0]
    assert hops0 and hops0[0][1] == hops0[0][2]


def test_iterative_bfs_restores_recursion_limit(spark, sf_dir):
    """The CTE forms must not leak their raised cteRecursionRowLimit or
    walk shuffle width into the shared session (round-6 advice)."""
    before = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    width = spark.conf.get("spark.sql.shuffle.partitions", None)
    sql_bfs_distances(spark, sf_dir)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit", None) == before
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == width
    sql_recursive_hierarchy(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == width


def test_cosupply_edge_fixture_is_memoized_per_session(spark, sf_dir):
    """Regression for the round-8 bench OOM: repeated invocations of the
    graph family must share ONE checkpointed edge artifact per
    (session, sf_dir) — per-call checkpoints accumulated in the driver's
    storage memory until near-threshold broadcasts failed. Identity (not
    equality) is the contract: the second call returns the cached frame."""
    from etl_pipeline_with_alpha_vantage_spark.operators.graph import (
        _cosupply_edges,
    )

    a = _cosupply_edges(spark, sf_dir)
    b = _cosupply_edges(spark, sf_dir)
    assert a is b
    assert set(a.columns) == {"src", "dst", "outdeg"}
    # The fixture is usable as-is by every family member: undirected
    # (every edge present both ways) and degree-consistent.
    from pyspark.sql import functions as F

    fwd = a.select("src", "dst")
    rev = a.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert fwd.exceptAll(rev).count() == 0  # symmetric multiset
    bad = (
        a.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"), F.max("outdeg").alias("carried"))
        .filter(F.col("deg") != F.col("carried"))
        .count()
    )
    assert bad == 0  # carried outdeg equals the actual degree
