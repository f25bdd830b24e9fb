"""Self-test of the benchmark at toy size (sf0.001 warehouse, 8 symbols).

    python3 perfbench/selftest.py

For every workload it checks that

* an untraced run prints every end-to-end metric of BENCHMARK.json with its
  unit, and a traced run every per-layer metric;
* a run with a tampered expected value reports the mismatch as a failed op;
* each traced op's layer numbers account for its wall time within 5 %:
  its build and execute phases sum to the op's span (less the probe's own
  gap), and Catalyst plus job time fit inside the execute phase;

and that the benchmark exits non-zero, printing no result, in a directory
holding only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOLERANCE = 0.05


def _run(cwd: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7",
                        "--seconds", "1", *args], cwd=cwd, capture_output=True,
                       text=True, timeout=180)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def _check_metrics(result: dict | None, wanted: list[dict], label: str) -> list[str]:
    if result is None:
        return [f"{label}: no result line"]
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{label}: keys {sorted(result)}")
    got = result.get("metrics", {})
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(
                v.get("value"), (int, float)):
            errs.append(f"{label}: metric {m['name']} missing or malformed: {v}")
    if set(got) - {m["name"] for m in wanted}:
        errs.append(f"{label}: unexpected metrics {sorted(set(got) - {m['name'] for m in wanted})}")
    return errs


def _check_accounting(path: str, label: str) -> list[str]:
    with open(path) as f:
        spans = json.load(f)["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    errs, n_ops = [], 0
    for s in spans:
        if s.get("kind") != "op":
            continue
        n_ops += 1
        L = s["layers"]
        wall = L["wall_s"]
        dur = {k["name"]: k["end"] - k["start"] for k in kids.get(s["id"], [])}
        span_wall = (s["end"] - s["start"]) - dur.get("probe", 0.0)
        inside = sum(L[f"{p}_ms"] for p in ("analysis", "optimization", "planning"))
        inside = (inside + L["exec_jobs_wall_ms"]) / 1000
        if abs(span_wall - wall) > TOLERANCE * wall:
            errs.append(f"{label}: {s['name']} phases {wall:.3f}s vs span {span_wall:.3f}s")
        if inside > (1 + TOLERANCE) * L["execute_s"]:
            errs.append(f"{label}: {s['name']} Catalyst+jobs {inside:.3f}s exceed "
                        f"execute {L['execute_s']:.3f}s")
    if not n_ops:
        errs.append(f"{label}: no op spans")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs: list[str] = []
    for w in (w["name"] for w in spec["workloads"]):
        rc, res = _run(ROOT, "--workload", w, "--trace", "0", "--toy")
        errs += _check_metrics(res, spec["end_to_end"], f"{w} trace 0")
        if rc or not res or not res["correct"] or res["failed"]:
            errs.append(f"{w} trace 0: rc={rc} result={res}")
        rc, res = _run(ROOT, "--workload", w, "--trace", "1", "--toy")
        errs += _check_metrics(res, spec["per_layer"], f"{w} trace 1")
        errs += _check_accounting(os.path.join(HERE, "_out", f"{w}-seed7-trace1.json"),
                                  f"{w} trace 1")
        rc, res = _run(ROOT, "--workload", w, "--trace", "0", "--toy", "--tamper")
        if res is None or res["correct"] or res["failed"] < 1:
            errs.append(f"{w} tamper: mismatch not reported: {res}")
        print(f"selftest: {w} done, {len(errs)} problem(s) so far", file=sys.stderr)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "_out")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
        rc, res = _run(bare, "--workload", spec["workloads"][0]["name"])
        if rc == 0 or res is not None:
            errs.append(f"bare directory: rc={rc} result={res}")
    for e in errs:
        print(f"selftest: FAIL {e}", file=sys.stderr)
    print("selftest: ok" if not errs else f"selftest: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
