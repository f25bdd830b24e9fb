"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from
``--seed``, times the workload's ops in a closed loop for ``--seconds``,
checks the outputs, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer metrics, and the run's spans are written to
``perfbench/_out/``. The tracing overhead is the difference between the
two kinds of run.

Everything the run writes stays under ``perfbench/_work/<workload>-<pid>``
(removed when the run ends) and ``perfbench/_out``; Spark's cwd,
warehouse, local and temp dirs are pointed there. ``--toy`` shrinks every input for the self-test, and
``--tamper`` corrupts one expected value so the self-test can see the
checks fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_with_alpha_vantage_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true")
    p.add_argument("--tamper", action="store_true")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temp/cwd/worker-path setting of this process and the
    JVM it launches at ``work`` and the checkout, before pyspark loads."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Both JVMs (spark-submit's launcher and Spark's): temp files under
    # ``work``, and no hsperfdata, which HotSpot writes to /tmp regardless.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}") if p)
    # Python workers import the package by name; they inherit this path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    run = workloads.Run(args, work, cores)
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        if run.probe is not None:
            run.probe.close()
        if run.spark is not None:
            _stop(run.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    for sp in run.spans.items:
        if sp["parent"] is None:
            print(f"perfbench: {sp['name']} {sp['end'] - sp['start']:.2f} s",
                  file=sys.stderr)
    run.spans.write(
        os.path.join(HERE, "_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {"workload": args.workload, "seed": args.seed, "trace": args.trace,
         "cores": cores, "errors": run.errors, "e2e": run.e2e,
         "layers": {**run.setup, **run.layers}})
    if args.trace:
        values = {**run.setup, **run.layers}
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"].startswith(workloads.NOT_APPLICABLE[args.workload]):
                values.setdefault(m["name"], 0.0)
    else:
        values = run.e2e
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": min(run.failed, run.attempted),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
