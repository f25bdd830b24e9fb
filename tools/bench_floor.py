"""Regenerate BENCH_FLOOR.json — each query's authoritative isolated
floor at sf0.1, i.e. the per-query MINIMUM across every COMMITTED bench
generation (BENCH_r03's parsed payload + all git generations of
BENCH_DETAIL.json / BENCH_FULL.json), with explicit overrides for
queries whose plan intentionally changed so a stale floor can't flag a
deliberate rework.

The working-tree copies are deliberately NOT inputs: the driver re-runs
bench.py after the round's final commit, rewriting the working-tree
BENCH_DETAIL.json with readings nobody has had a chance to commit yet.
Folding that file made the floor-consistency test red on every judged
checkout (rounds 8 and 9) through no fault of the committed floors.
Uncommitted readings become floor inputs the moment they are committed
— which the round-start artifact absorption always does.

Usage:
    python tools/bench_floor.py          # writes BENCH_FLOOR.json
    python tools/bench_floor.py PATH     # writes PATH (read-only checks)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Floors that must NOT be taken from history because the plan changed
# deliberately (documented in BENCH_BASELINE.md). Value = the isolated
# minimum measured on the new plan.
OVERRIDES: dict[str, float] = {
    # round 3: demo filter loosened %29 -> %5 (~6x the rows)
    "interval_overlap_join": 0.41,
    # round 6: grouping-sets rework (10 -> 4 exchanges); isolated n=5 min
    "dq_fd_discovery": 1.398,
    # round 6's udf_cogrouped_asof override (2.399, bucketed-cogroup
    # rework) was retired in round 8: the parallelism-derived bucket
    # count made the query ~3.4x faster, and committed generations now
    # contain post-retune readings, so the plain historical minimum is
    # the correct floor again.
    # round 9: flagship rebuilt as one SQL text (plan identical; ~70 ms
    # less py4j build overhead) after the historical 0.185 floor — a
    # single whole-run reading from one r8 generation — proved
    # unreachable under the isolation protocol across two rounds
    # (r8 0.342; r9 0.369-0.465 pre-rework). Value = isolated n=12 min
    # on the new build path (BENCH_BASELINE.md r9 notes).
    "flagship_daily_change": 0.287,
    # round 12: the two sub-100ms multimodal floors (r3-era readings)
    # predate the driver's 2026-08-15 fixture regeneration
    # (TIMESTAMP(NANOS)→MICROS rewrite of every parquet). On the
    # current files a BARE documents scan costs ~0.17 s (5000 docs,
    # one row group, one partition — per-job fixed cost dominates), so
    # 59/65 ms is unreachable by ANY plan. Values = cleanest isolated
    # min-of-8 noop-write readings on the current fixture (quiet host;
    # see BENCH_BASELINE.md r12 notes). The kernels themselves are
    # scan-bound single-stage projections — nothing to rework.
    "multimodal_metadata": 0.145,
    "multimodal_frame_sample": 0.133,
}


# Queries whose committed floors were recorded with a session-amortized
# derived artifact already built (co-supply edge fixtures, LPA labels,
# landmark BFS state, the monthly trend aggregate, the PCA Gram, the IVF
# codebook, learned BPE merges). Since r13 bench.py clears these memos
# before each query's timing loop and reports the first run in a
# separate "cold" column; the floors below remain valid for the warm
# min-of-3 `queries` numbers, but a cold reading must not be compared
# against them. Derived mechanically from the catalog.artifact call
# graph (see OPTIMIZATION_r13.md).
AMORTIZED = [
    "bpe_apply_encode",
    "dedup_semantic_ivf",
    "embedding_pca_power",
    "graph_assortativity",
    "graph_betweenness_sampled",
    "graph_bfs_distances",
    "graph_closeness_landmark",
    "graph_clustering_global",
    "graph_hits",
    "graph_jaccard_minhash",
    "graph_jaccard_neighbors",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_linkpred_ra",
    "graph_modularity",
    "graph_pagerank",
    "graph_pagerank_personalized",
    "graph_pagerank_weighted",
    "graph_triangles",
    "similarity_ivf_topk",
    "sql_bfs_distances",
    "trend_mann_kendall",
    "trend_mann_kendall_seasonal",
    "trend_theil_sen",
]


def _generations() -> list[dict[str, float]]:
    gens: list[dict[str, float]] = []
    r3 = json.load(open(os.path.join(REPO, "BENCH_r03.json")))
    parsed = r3.get("parsed") or {}
    if parsed.get("queries"):
        gens.append(parsed["queries"])
    for fname in ("BENCH_DETAIL.json", "BENCH_FULL.json"):
        hashes = subprocess.run(
            ["git", "log", "--all", "--format=%H", "--", fname],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        for h in hashes:
            blob = subprocess.run(
                ["git", "show", f"{h}:{fname}"],
                cwd=REPO,
                capture_output=True,
                text=True,
            )
            if blob.returncode == 0:
                try:
                    d = json.loads(blob.stdout)
                except json.JSONDecodeError:
                    continue
                # Floors are sf0.1 numbers only — one early generation
                # was produced by a fast sf0.01 run and must not
                # pollute them.
                if d.get("sf") == 0.1:
                    gens.append(d.get("queries", {}))
    return gens


def main(out_path: str | None = None) -> int:
    floors: dict[str, float] = {}
    for gen in _generations():
        for name, sec in gen.items():
            if not isinstance(sec, (int, float)):
                continue
            if name not in floors or sec < floors[name]:
                floors[name] = float(sec)
    floors.update(OVERRIDES)
    out = {
        "sf": 0.1,
        "unit": "sec",
        "note": (
            "Per-query minimum across all committed sf0.1 bench "
            "generations (r3 onward, PySpark 4.1.2), plus overrides for "
            "intentional plan changes — see BENCH_BASELINE.md. Compare "
            "with tools/bench_guard.py; >2x a floor = investigate."
        ),
        "overrides": sorted(OVERRIDES),
        "amortized": AMORTIZED,
        "floors": dict(sorted(floors.items())),
    }
    path = out_path or os.path.join(REPO, "BENCH_FLOOR.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {len(floors)} floors")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else None))
