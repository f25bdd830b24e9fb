"""Property-based tests (hypothesis) for the stateful-ish operators whose
correctness depends on invariants, not one fixture: gap sessionization
and the idempotent upsert-ignore sink.

Each example pays a full Spark round-trip, so example counts are small
and the generators compact; the invariants themselves are exact.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_with_alpha_vantage_spark.operators.timeseries import (
    assign_sessions,
)
from etl_pipeline_with_alpha_vantage_spark.sinks.idempotent import (
    dedup_in_batch,
    upsert_ignore,
)

GAP_US = 1_000_000 * 60  # 1 minute for compact examples

BASE = datetime(2024, 1, 1)

# Per-user lists of inter-event gaps in seconds (mix below/above the
# 60 s session boundary).
gaps_strategy = st.lists(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=12),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(per_user_gaps=gaps_strategy)
def test_sessionize_invariants(spark, per_user_gaps):
    rows = []
    eid = 0
    for user, gaps in enumerate(per_user_gaps):
        t = BASE
        for g in gaps:
            t = t + timedelta(seconds=g)
            rows.append((eid, t, user, 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = assign_sessions(df, gap_us=GAP_US).collect()

    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)

    assert sum(len(v) for v in by_user.values()) == len(rows)  # no loss
    for user, evs in by_user.items():
        # session numbers start at 1 and only ever step by 0 or 1
        assert evs[0].session_no == 1
        for prev, cur in zip(evs, evs[1:]):
            gap_us = int((cur.ts - prev.ts).total_seconds() * 1e6)
            step = cur.session_no - prev.session_no
            assert step in (0, 1)
            # boundary iff gap exceeds threshold
            assert (step == 1) == (gap_us > GAP_US)


batches_strategy = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # symbol id
            st.integers(min_value=0, max_value=5),  # day id
            st.integers(min_value=0, max_value=100),  # payload
        ),
        min_size=1,
        max_size=15,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=batches_strategy)
def test_upsert_ignore_converges_to_distinct_keys(
    spark, tmp_path_factory, batches
):
    """Whatever the batch contents/overlap, after loading all batches the
    warehouse holds exactly one row per distinct (symbol, day) key, the
    payload is the deterministic first-writer per key, and replaying
    every batch appends nothing."""
    path = str(tmp_path_factory.mktemp("wh") / "t")

    def to_df(batch):
        rows = [(f"s{s}", f"2024-01-{d+1:02d}", p) for s, d, p in batch]
        return spark.createDataFrame(rows, "symbol string, date string, payload long")

    all_keys = set()
    winner: dict[tuple, int] = {}
    for batch in batches:
        df = dedup_in_batch(to_df(batch), ["symbol", "date"], "payload")
        upsert_ignore(spark, df, path, ["symbol", "date"])
        for s, d, p in sorted(batch, key=lambda t: t[2]):
            key = (f"s{s}", f"2024-01-{d+1:02d}")
            all_keys.add(key)
            winner.setdefault(key, p)

    rows = spark.read.parquet(path).collect()
    assert len(rows) == len(all_keys)
    assert {(r.symbol, r.date): r.payload for r in rows} == winner

    # replay: nothing appends
    for batch in batches:
        df = dedup_in_batch(to_df(batch), ["symbol", "date"], "payload")
        assert upsert_ignore(spark, df, path, ["symbol", "date"]) == 0
    assert spark.read.parquet(path).count() == len(all_keys)


edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=19),
        st.integers(min_value=0, max_value=19),
    ).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw_edges=edge_strategy)
def test_connected_components_matches_union_find(spark, raw_edges):
    """The distributed min-label propagation must agree with a plain
    union-find referee on arbitrary random graphs over 20 nodes."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        connected_components,
    )

    n_nodes = 20
    edges = [(min(a, b), max(a, b)) for a, b in raw_edges]
    nodes_df = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], "doc_id long"
    )
    pairs_df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs_df = pairs_df.filter("doc_a <> doc_b")  # empty edge set

    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes_df, pairs_df, max_iter=25).collect()
    }

    # referee: union-find with path compression
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in range(n_nodes):
        root = find(i)
        comp_min = min(j for j in range(n_nodes) if find(j) == root)
        want[i] = comp_min

    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw_edges=edge_strategy)
def test_cc_star_matches_min_label(spark, raw_edges):
    """The large-star/small-star contraction must produce the exact
    labels of min-label propagation (itself refereed against union-find
    above) on arbitrary random graphs."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n_nodes = 20
    edges = [(min(a, b), max(a, b)) for a, b in raw_edges]
    nodes_df = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], "doc_id long"
    )
    pairs_df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs_df = pairs_df.filter("doc_a <> doc_b")

    label = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes_df, pairs_df, max_iter=25).collect()
    }
    star = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(nodes_df, pairs_df).collect()
    }
    assert star == label


def test_cc_star_converges_on_path_graph(spark):
    """A 10k-node PATH (0—1—2—…—9999) is the worst case for min-label
    propagation (diameter sweeps ≈ node count); star contraction must
    still collapse it to one component rooted at 0 within its default
    O(log² n) round budget."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        connected_components_star,
    )

    n = 10_000
    nodes_df = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs_df = (
        spark.range(n - 1)
        .selectExpr("id AS doc_a", "id + 1 AS doc_b")
    )
    labels = connected_components_star(nodes_df, pairs_df).collect()
    assert len(labels) == n
    assert {r.cluster_id for r in labels} == {0}


def _cc_referee(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find ground truth: node -> component minimum."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for i in range(n_nodes):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    return {i: comp_min[find(i)] for i in range(n_nodes)}


def _broom(handle: int, bristles: int) -> tuple[int, list[tuple[int, int]]]:
    """Path 0—…—(handle-1) with `bristles` leaves hanging off its far
    end — long diameter AND a high-degree hub at the deep end, the
    union of both star phases' bad cases."""
    edges = [(i, i + 1) for i in range(handle - 1)]
    edges += [(handle - 1, handle + j) for j in range(bristles)]
    return handle + bristles, edges


def _caterpillar(spine: int) -> tuple[int, list[tuple[int, int]]]:
    """Path of `spine` nodes with one leaf per spine node; leaves get
    the HIGH ids so every leaf's only neighbor is far below it."""
    edges = [(i, i + 1) for i in range(spine - 1)]
    edges += [(i, spine + i) for i in range(spine)]
    return 2 * spine, edges


def _two_cluster_bridge() -> tuple[int, list[tuple[int, int]]]:
    """Two 500-leaf stars whose id ranges are far apart, joined by a
    single leaf-to-leaf bridge edge — the merge must propagate through
    the bridge, not through either hub."""
    edges = [(0, 1 + j) for j in range(500)]  # star A: hub 0
    edges += [(1000, 1001 + j) for j in range(500)]  # star B: hub 1000
    edges += [(400, 1400)]  # leaf-to-leaf bridge
    return 1501, edges


@pytest.mark.parametrize(
    "builder",
    [
        lambda: _broom(3000, 300),
        lambda: _caterpillar(2000),
        _two_cluster_bridge,
    ],
    ids=["broom", "caterpillar", "two_cluster_bridge"],
)
def test_cc_star_adversarial_topologies(spark, builder):
    """Star contraction must match union-find on topologies that stress
    both phases: brooms (long diameter + deep high-degree hub),
    caterpillars (every node alternates spine/leaf roles), and two far
    clusters joined by one bridge edge (round-5 verdict task)."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        connected_components_star,
    )

    n_nodes, edges = builder()
    want = _cc_referee(n_nodes, edges)
    nodes_df = spark.range(n_nodes).withColumnRenamed("id", "doc_id")
    pairs_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(nodes_df, pairs_df).collect()
    }
    assert got == want


def test_two_cluster_bridge_splits_without_the_bridge(spark):
    """Sanity inverse of the bridge case: removing the single bridge
    edge must yield exactly two components (no spurious merging)."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        connected_components_star,
    )

    n_nodes, edges = _two_cluster_bridge()
    edges = [e for e in edges if e != (400, 1400)]
    nodes_df = spark.range(n_nodes).withColumnRenamed("id", "doc_id")
    pairs_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(nodes_df, pairs_df).collect()
    }
    assert got == _cc_referee(n_nodes, edges)
    assert {got[i] for i in range(501)} == {0}  # star A
    assert {got[i] for i in range(1000, 1501)} == {1000}  # star B
    assert all(got[i] == i for i in range(501, 1000))  # isolated ids


def test_canonical_corpus_star_engine_matches_label_engine(spark, sf_dir):
    """The star-contraction CC engine must emit exactly the labels of the
    min-label engine that dedup_canonical_corpus uses."""
    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import (
        dedup_cc_clusters,
        dedup_cc_clusters_star,
    )

    base = sorted(tuple(r) for r in dedup_cc_clusters(spark, sf_dir).collect())
    star = sorted(
        tuple(r) for r in dedup_cc_clusters_star(spark, sf_dir).collect()
    )
    assert star == base


# --------------------------------------------------------------------------
# Greedy sequence packing (operators/packing.py)
# --------------------------------------------------------------------------

from etl_pipeline_with_alpha_vantage_spark.operators.packing import pack_greedy

PACK_BUDGET = 100

pack_strategy = st.lists(
    st.lists(st.integers(min_value=1, max_value=150), min_size=1, max_size=20),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(per_group_tokens=pack_strategy)
def test_pack_greedy_invariants(spark, per_group_tokens):
    rows = []
    rid = 0
    for g, tokens in enumerate(per_group_tokens):
        for toks in tokens:
            rows.append((rid, f"g{g}", toks))
            rid += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, est_tokens long")
    out = pack_greedy(df, ["source"], "doc_id", "est_tokens", budget=PACK_BUDGET)
    got = sorted(out.collect(), key=lambda r: (r.source, r.doc_id))

    by_group: dict[str, list] = {}
    for r in got:
        by_group.setdefault(r.source, []).append(r)
    for rs in by_group.values():
        # bin ids start at 0 and are non-decreasing, stepping by at most 1,
        # in doc order (bins are contiguous runs)
        assert rs[0].bin_id == 0
        for a, b in zip(rs, rs[1:]):
            assert b.bin_id in (a.bin_id, a.bin_id + 1)
        # no bin exceeds the budget unless it holds a single oversized doc
        fills: dict[int, list[int]] = {}
        for r in rs:
            fills.setdefault(r.bin_id, []).append(r.est_tokens)
        for docs_in_bin in fills.values():
            assert sum(docs_in_bin) <= PACK_BUDGET or len(docs_in_bin) == 1
        # greedy tightness: the first doc of bin k+1 would NOT have fit
        # into bin k
        for a, b in zip(rs, rs[1:]):
            if b.bin_id == a.bin_id + 1:
                assert sum(fills[a.bin_id]) + b.est_tokens > PACK_BUDGET


def test_concurrency_peak_trunc_semantics_adversarial(spark, tmp_path):
    """Round-vs-trunc interval ends CHANGE the peak on this data: interval
    A has length 10.5s, interval B starts exactly at t=10. Truncation ends
    A at t=10 (end-before-start tie rule → peak 1); rounding would stretch
    A to t=11, overlapping B (peak 2). Both the Spark query and the DuckDB
    oracle must agree on the truncating semantics — this row pattern is
    precisely the one ADVICE flagged as a latent data-dependent break."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_pipeline_with_alpha_vantage_spark import registry
    from etl_pipeline_with_alpha_vantage_spark.operators.timeseries import (
        _CONCURRENCY_ORACLE,
    )

    registry.load_all()
    base = 1_700_000_000_000_000  # micros
    rows = {
        "event_id": [1, 2],
        "ts": pa.array(
            [base, base + 10_000_000], type=pa.timestamp("us", tz="UTC")
        ),
        "user_id": [1, 2],
        "event_type": ["x", "x"],
        "value": [10.5, 5.0],
        "props": ["{}", "{}"],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))

    got = {
        (r.event_type, r.peak_concurrency)
        for r in registry.QUERIES["concurrency_peak"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {("x", 1)}  # trunc: A closes before B opens

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    oracle = set(map(tuple, con.sql(_CONCURRENCY_ORACLE).fetchall()))
    con.close()
    assert oracle == got


# --------------------------------------------------------------------------
# SymSpell deletion-blocking lemma (fuzzy_join_symdel's candidate scheme)
# --------------------------------------------------------------------------


def _del1(s: str) -> set[str]:
    return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abc", min_size=0, max_size=6),
    st.text(alphabet="abc", min_size=0, max_size=6),
)
def test_symdel_blocking_is_complete(s, t):
    """d(s,t) ≤ 1 ⇒ the deletion-key sets intersect (no false negatives;
    false positives like 'ab'/'ba' are expected — the query's levenshtein
    verify removes them, so blocking+verify ≡ brute force)."""
    if _lev(s, t) <= 1:
        assert _del1(s) & _del1(t)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=12),
    st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=12),
)
def test_symdel_block_verify_equals_bruteforce(dirty, clean):
    """blocked-candidates ∩ (lev ≤ 1) == all-pairs (lev ≤ 1)."""
    blocked = {
        (d, c)
        for d in dirty
        for c in clean
        if (_del1(d) & _del1(c)) and _lev(d, c) <= 1
    }
    brute = {(d, c) for d in dirty for c in clean if _lev(d, c) <= 1}
    assert blocked == brute


def test_chunk_yield_closed_form_matches_materialized_chunks(spark, sf_dir):
    """Cross-operator consistency: pipeline_chunk_yield's closed-form
    chunk budget (aggregate over start offsets, no explode) must agree
    with physically materializing chunks via chunk_sliding_windows for
    the same survivor set."""
    from pyspark.sql import functions as F

    from etl_pipeline_with_alpha_vantage_spark import registry

    registry.load_all()
    yield_df = registry.QUERIES["pipeline_chunk_yield"](spark, sf_dir)
    totals = yield_df.agg(
        F.sum("n_chunks").alias("n_chunks"), F.sum("chunk_tokens").alias("toks")
    ).collect()[0]

    chunks = registry.QUERIES["chunk_sliding_windows"](spark, sf_dir)
    # survivor doc_ids exactly as the yield pipeline selects them
    from etl_pipeline_with_alpha_vantage_spark.operators.text import (
        _STOPWORDS,
    )
    from etl_pipeline_with_alpha_vantage_spark.catalog import table

    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / n_tokens
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "))
    kept = docs.select(
        "doc_id", F.md5(norm).alias("norm_hash")
    ).filter((n_tokens >= 20) & (stop_ratio >= 0.01))
    survivors = kept.groupBy("norm_hash").agg(F.min("doc_id").alias("doc_id"))

    mat = (
        chunks.join(survivors.select("doc_id"), "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("toks"),
        )
        .collect()[0]
    )
    assert (totals.n_chunks, totals.toks) == (mat.n_chunks, mat.toks)


# --------------------------------------------------------------------------
# SymSpell (symmetric-deletion) blocking completeness
# --------------------------------------------------------------------------


def _del1_py(s: str) -> set[str]:
    """{s} ∪ all single-character deletions — Python twin of
    operators.dedup._del1_keys."""
    return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _random_edit(s: str, kind: int, pos: int, ch: str) -> str:
    """Apply one edit (or none) to s at a wrapped position."""
    if kind == 0 or not s and kind == 2:
        if kind == 0:
            p = pos % (len(s) + 1)
            return s[:p] + ch + s[p:]  # insert
    if not s:
        return s
    p = pos % len(s)
    if kind == 1:
        return s[:p] + s[p + 1 :]  # delete
    if kind == 2:
        return s[:p] + ch + s[p + 1 :]  # substitute
    return s  # identical


edit_pairs = st.tuples(
    st.text(alphabet="abc", min_size=0, max_size=8),
    st.integers(min_value=0, max_value=3),  # edit kind
    st.integers(min_value=0, max_value=7),  # position seed
    st.sampled_from("abc"),
)


@settings(max_examples=300, deadline=None)
@given(p=edit_pairs)
def test_symdel_blocking_complete_python(p):
    """d(s,t) ≤ 1 ⟹ the deletion-key sets intersect — the completeness
    half of the SymSpell claim (the half candidate generation relies on;
    false candidates are removed by the levenshtein verify)."""
    s, kind, pos, ch = p
    t = _random_edit(s, kind, pos, ch)
    assert _lev(s, t) <= 1
    assert _del1_py(s) & _del1_py(t), (s, t)


def test_symdel_spark_candidates_superset_of_true_pairs(spark):
    """The Spark block-join candidate generation must recover EVERY true
    distance-≤1 pair of a fixed adversarial vocabulary (duplicates,
    prefixes, single chars, transposition-like cases)."""
    from pyspark.sql import functions as F

    from etl_pipeline_with_alpha_vantage_spark.operators.dedup import _del1_keys

    vocab = [
        "abc", "abd", "ab", "abcd", "bbc", "a", "b", "", "acb",
        "xyz", "xy", "yz", "xz", "zyx", "aabc", "abca",
    ]
    true_pairs = {
        (s, t)
        for s in vocab
        for t in vocab
        if s < t and _lev(s, t) <= 1
    }
    assert true_pairs  # the fixture must actually exercise the property

    df = spark.createDataFrame([(v,) for v in vocab], "s string")
    keys = df.select("s", F.explode(_del1_keys("s")).alias("blk"))
    a = keys.select(F.col("s").alias("sa"), "blk")
    b = keys.select(F.col("s").alias("sb"), "blk")
    cand = {
        (r.sa, r.sb)
        for r in a.join(b, "blk").filter(F.col("sa") < F.col("sb"))
        .select("sa", "sb").distinct().collect()
    }
    missing = true_pairs - cand
    assert not missing, f"blocking missed true pairs: {sorted(missing)}"


# --------------------------------------------------------------------------
# Round-6 operators: referee / invariant tests
# --------------------------------------------------------------------------


def test_linkage_bands_are_the_constructed_classes(spark, sf_dir):
    """The dirtying scheme is deterministic, so the decision bands must
    be exactly the constructed classes: reversed names (custkey % 13)
    land in non_match, partial records (% 7, not % 13) in possible,
    everything else in match — and every 'match' resolves to its true
    twin."""
    from etl_pipeline_with_alpha_vantage_spark.operators.linkage import (
        linkage_fellegi_sunter,
    )

    rows = linkage_fellegi_sunter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.dirty_key % 13 == 0:
            want = "non_match"
        elif r.dirty_key % 7 == 0:
            want = "possible"
        else:
            want = "match"
        assert r.decision == want, (r.dirty_key, r.decision, want)
        if r.decision == "match":
            assert r.matched_key == r.dirty_key, r
    # all three bands genuinely exercised
    assert {r.decision for r in rows} == {"match", "possible", "non_match"}


def test_naive_bayes_beats_chance_and_scores_every_heldout_doc(
    spark, sf_dir
):
    """NB language-ID must score every held-out doc exactly once and
    beat the 1/5 random baseline (the synthetic corpus carries weak but
    real language signal; the pipeline is deterministic, so accuracy is
    a fixed number per scale factor — 0.30 @ sf0.001, 0.42 @ sf0.01)."""
    from etl_pipeline_with_alpha_vantage_spark.operators.ml import (
        ml_naive_bayes_langid,
    )
    from etl_pipeline_with_alpha_vantage_spark.catalog import table

    rows = ml_naive_bayes_langid(spark, sf_dir).collect()
    heldout = (
        table(spark, sf_dir, "documents")
        .filter("doc_id % 5 = 0")
        .count()
    )
    assert len(rows) == heldout
    assert len({r.doc_id for r in rows}) == heldout  # one prediction each
    acc = sum(1 for r in rows if r.correct) / len(rows)
    assert acc > 0.25, f"accuracy {acc:.3f} not above chance"


def _kcore_referee(
    edges: list[tuple[int, int]], k: int, rounds: int
) -> dict[int, int]:
    """Python replay of the fixed-round peel: per round drop nodes with
    degree < k, then edges touching them; returns survivor → degree."""
    es = set()
    for a, b in edges:
        es.add((a, b))
        es.add((b, a))
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for s, _d in es:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        es = {(s, d) for s, d in es if s in keep and d in keep}
    deg = {}
    for s, _d in es:
        deg[s] = deg.get(s, 0) + 1
    return deg


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw_edges=edge_strategy)
def test_kcore_peel_matches_python_referee(spark, raw_edges):
    """The distributed fixed-round peel must agree with a plain Python
    replay on arbitrary random graphs (same k and round budget as the
    registered query)."""
    from pyspark.sql import functions as F

    from etl_pipeline_with_alpha_vantage_spark.operators.graph import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    want = _kcore_referee(edges, _KCORE_K, _KCORE_ROUNDS)

    pairs = spark.createDataFrame(edges, "src long, dst long")
    e = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        e = (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    got = {
        r.src: r.deg
        for r in e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).collect()
    }
    assert got == want
