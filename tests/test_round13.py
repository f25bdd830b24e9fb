"""Derived-artifact memos, written input fixtures and scoped confs.

Session-scoped memos of *computed* artifacts (LPA labels, the monthly
trend aggregate, landmark BFS state, the IVF codebook, learned BPE
merges) all go through ``catalog.artifact``, so the bench can charge
their builds to a reported cold run via ``clear_derived_memos``. These
tests pin that machinery: file-identity keying, clearing scope (derived
yes, metadata no), recompute-equivalence after a clear, and the two
stale-result cases a key without input identity used to serve.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipeline_with_alpha_vantage_spark import registry
from etl_pipeline_with_alpha_vantage_spark.catalog import (
    artifact,
    clear_derived_memos,
    scoped_conf,
    table,
)


def test_artifact_keys_on_file_identity(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")
    shutil.copy(os.path.join(sf_dir, "region.parquet"), path)
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert artifact(spark, "probe", d, ("region",), build) == 1
    assert artifact(spark, "probe", d, ("region",), build) == 1
    # Same file, new identity: the memo must miss and rebuild.
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert artifact(spark, "probe", d, ("region",), build) == 2
    # Another name or sf_dir is another artifact.
    assert artifact(spark, "probe2", d, ("region",), build) == 3


def test_clear_derived_memos_scope(spark, sf_dir):
    registry.load_all()
    from etl_pipeline_with_alpha_vantage_spark.operators.graph import (
        _cosupply_edges,
    )

    # Build a derived artifact and a metadata memo.
    edges = _cosupply_edges(spark, sf_dir)
    li = table(spark, sf_dir, "lineitem")
    assert _cosupply_edges(spark, sf_dir) is edges, "derived memo missed"

    clear_derived_memos(spark)
    assert _cosupply_edges(spark, sf_dir) is not edges, (
        "derived memo survived the clear"
    )
    # Metadata memos (loaded table frames) are NOT part of the reset.
    assert table(spark, sf_dir, "lineitem") is li, (
        "table() metadata memo was wrongly cleared"
    )


def test_recompute_after_clear_matches(spark, sf_dir):
    """The cold (post-clear) recompute must produce the identical rows —
    the memo is an amortization, never a semantic input."""
    registry.load_all()
    q = registry.QUERIES["trend_mann_kendall"]
    warm = sorted(map(tuple, q(spark, sf_dir).collect()))
    clear_derived_memos(spark)
    cold = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert warm == cold


def test_clear_resets_ivf_codebook_and_bpe_merges(spark, sf_dir):
    """The IVF codebook and learned-BPE-merge memos hold computed
    artifacts and must participate in the bench's memo reset."""
    from etl_pipeline_with_alpha_vantage_spark.operators import (
        similarity as sim,
    )
    from etl_pipeline_with_alpha_vantage_spark.operators import (
        tokenizer as tok,
    )

    raw = table(spark, sf_dir, "embeddings")
    book = sim._ivf_codebook(spark, sf_dir, raw)
    merges = tok._learned_pairs_cached(spark, sf_dir)
    assert sim._ivf_codebook(spark, sf_dir, raw) is book
    assert tok._learned_pairs_cached(spark, sf_dir) is merges
    clear_derived_memos(spark)
    book2 = sim._ivf_codebook(spark, sf_dir, raw)
    merges2 = tok._learned_pairs_cached(spark, sf_dir)
    assert book2 is not book and merges2 is not merges
    assert (book2[1] == book[1]).all() and merges2 == merges


def test_ivf_codebook_retrains_after_in_place_rewrite(spark, sf_dir, tmp_path):
    """A file rewritten in place inside a directory-layout table leaves
    the directory's own mtime alone; the codebook must still retrain."""
    import numpy as np

    from etl_pipeline_with_alpha_vantage_spark.operators import (
        similarity as sim,
    )

    emb_dir = tmp_path / "embeddings.parquet"
    emb_dir.mkdir()
    part = str(emb_dir / "part-0.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), part)
    d = str(tmp_path)

    head, cents = sim._ivf_codebook(spark, d, table(spark, d, "embeddings"))

    # Negate every vector: unit vectors and centroids flip sign.
    df = pq.read_table(part).to_pandas()
    df["embedding"] = df["embedding"].map(lambda v: -v)
    dir_mtime = os.stat(emb_dir).st_mtime_ns
    with open(part, "r+b") as fh:
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), fh)
        fh.truncate()
    assert os.stat(emb_dir).st_mtime_ns == dir_mtime

    head2, cents2 = sim._ivf_codebook(spark, d, table(spark, d, "embeddings"))
    some = sorted(head)[0]
    assert np.allclose(head2[some], -head[some])
    assert np.allclose(cents2, -cents)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_merge_fixtures_follow_rewritten_customer(spark, sf_dir, tmp_path):
    """A rewritten customer.parquet must rebuild the written merge
    fixtures; COW and MOR keep matching their oracle."""
    import duckdb

    registry.load_all()
    d = str(tmp_path)
    path = os.path.join(d, "customer.parquet")
    shutil.copy(os.path.join(sf_dir, "customer.parquet"), path)
    names = ("lakehouse_merge_cow", "lakehouse_merge_mor")

    def check():
        con = duckdb.connect()
        con.sql(f"CREATE VIEW customer AS SELECT * FROM '{path}'")
        want = sorted(con.sql(registry.ORACLES[names[0]]).fetchall())
        con.close()
        for name in names:
            assert _rows(registry.QUERIES[name](spark, d)) == want, name
        return want

    before = check()
    cust = pq.read_table(path).to_pandas()
    cust = cust[cust["c_custkey"] % 2 == 1]
    pq.write_table(pa.Table.from_pandas(cust, preserve_index=False), path)
    after = check()
    assert after != before


def test_scoped_conf_restores_set_and_unset_on_error(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.graft.test.scoped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "3", unset_key: "x"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "x"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_bench_charges_memo_builds_source_guard():
    """bench.py must reset derived memos before each query's timing loop
    and report the first (cold) run separately — the r12 verdict's
    honest-accounting requirement."""
    src = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    ).read()
    assert "clear_derived_memos(spark)" in src
    assert '"cold"' in src and "cold_total" in src


def test_floor_file_annotates_amortized_queries():
    import json

    floor = json.load(
        open(
            os.path.join(
                os.path.dirname(os.path.dirname(__file__)),
                "BENCH_FLOOR.json",
            )
        )
    )
    am = set(floor.get("amortized", ()))
    assert {
        "graph_label_propagation",
        "graph_modularity",
        "trend_mann_kendall",
        "graph_closeness_landmark",
        "graph_betweenness_sampled",
        "sql_bfs_distances",
    } <= am
