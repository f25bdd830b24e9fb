"""The benchmark's workloads: the query catalog and the daily ETL load.

Both run from one client in a closed loop (the next op starts when the
previous one returns) on ``local[<cores>]``.

* ``catalog_sf0.01``: a fixed mix of registered queries over a seeded
  warehouse at sf0.01: one cold pass (derived memos cleared before each
  op), then at least two warm passes in an order the seed permutes. Wall
  time here is mostly per-query constants (DataFrame construction, jobs
  fired while building, Catalyst, task launch, Python-worker boot), not
  data work.
  The mix holds queries with disputed earlier readings and two with
  the largest cold costs (``ATTRIBUTED``) plus a grouped pandas UDF.
* ``etl_daily``: the reference's daily chain: ``run_reference_pipeline``
  → ``to_warehouse_schema`` → ``upsert_ignore(keys=[symbol, date])`` into
  a parquet warehouse, day 0 into an empty warehouse and then one
  re-delivery per day (99 % of rows dropped by the anti-join, 1 %
  appended). It is the only workload with the JSON source, the
  corrupt-record gate and the write path; execution dominates its ops.

An op's wall time is its build phase (the query-function call, or the
pipeline's DataFrame construction) plus its execute phase (collecting the
query's rows to the client, or the upsert). Outputs are checked outside
the timed phases: every catalog op's rows against the query's DuckDB
oracle on the same inputs, each day's appended-row count, and the final
ETL warehouse against the rows the generator knows a correct load holds.
"""

from __future__ import annotations

import collections
import glob
import hashlib
import os
import statistics
import time
import traceback

import numpy as np

import gen
from probes import EXEC_KEYS, PHASES, PYTHON_KEYS, Probe, Spans

ATTRIBUTED = [
    "text_bigram_lm",
    "stats_kruskal_wallis",
    "eval_model_auc",
    "graph_jaccard_neighbors",
    "graph_jaccard_minhash",
    "graph_label_propagation",
]
# The cold pass runs in this order, so the first op of a fresh JVM, which
# pays one-off costs (first JIT of common code paths, the Python worker
# daemon's start), is always the same cheap query; the seed permutes only
# the warm passes.
CATALOG_MIX = ["udf_grouped_scale"] + ATTRIBUTED
TOY_MIX = ["udf_grouped_scale", "q1_pricing_summary", "graph_label_propagation"]
WAREHOUSE_SF, TOY_SF = 0.01, 0.001
ETL_SYMBOLS, TOY_SYMBOLS = 120, 8
MIN_WARM_PASSES, MIN_WARM_DAYS = 2, 5


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run: session, probe, spans and tallies."""

    def __init__(self, args, work: str, cores: int):
        self.args, self.work, self.cores = args, work, cores
        self.spans = Spans()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = self.probe = None

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)

    def start(self, warm_inputs) -> None:
        """Set-up: session start, registry load, one scan per input."""
        from etl_pipeline_with_alpha_vantage_spark import registry
        from etl_pipeline_with_alpha_vantage_spark.session import get_spark

        with self.spans.span("setup") as root:
            with self.spans.span("session", root) as s:
                self.spark = get_spark(
                    app_name="perfbench", master=f"local[{self.cores}]",
                    extra_conf=session_conf(self.work))
            self.setup["session.start_s"] = self.spans.duration(s)
            with self.spans.span("registry", root) as s:
                registry.load_all()
            self.setup["registry.load_s"] = self.spans.duration(s)
            with self.spans.span("catalog", root) as s:
                warm_inputs(self.spark)
            self.setup["catalog.warm_s"] = self.spans.duration(s)
        self.e2e["setup_s"] = self.spans.duration(root)
        self.probe = Probe(self.spark, self.spans, self.args.trace == 1)

    def record_peak_rss(self) -> None:
        """Peak resident memory so far of the Spark JVM and of this
        process. A per-layer number: G1's heap sizing moves the JVM's peak
        by ±15 % between identical runs, more than an end-to-end bound."""
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.layers["jvm.peak_rss_mb"] = _hwm_kb(str(jvm_pid)) / 1024.0
        self.layers["python.peak_rss_mb"] = _hwm_kb("self") / 1024.0


def session_conf(work: str) -> dict[str, str]:
    """Confs that keep every Spark artifact inside ``work``."""
    return {
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp", "hadoop"),
    }


def _hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _layer_medians(recs_by_op: dict[str, list[dict]], key: str) -> float:
    """Σ over distinct ops of the median of ``key`` over their samples."""
    return sum(_median([r[key] for r in recs]) for recs in recs_by_op.values() if recs)


def _spark_layers(run: Run, warm: dict[str, list[dict]], n_cold: int,
                  build_name: str) -> None:
    """Per-layer metrics common to both workloads, summed over one warm
    pass (each distinct op at its median)."""
    L = run.layers
    L[build_name] = _layer_medians(warm, "build_s")
    L["spark.execute_s"] = _layer_medians(warm, "execute_s")
    if build_name.startswith("operators."):
        for key in ("build_calls", "build_jobs"):
            L[f"operators.{key}"] = _layer_medians(warm, key)
    for p in PHASES:
        L[f"spark.catalyst.{p}_ms"] = _layer_medians(warm, f"{p}_ms")
    for k in EXEC_KEYS:
        if k != "input_records":
            L[f"spark.exec.{k}"] = _layer_medians(warm, "exec_jobs_wall_ms"
                                                  if k == "jobs_wall_ms" else k)
    wall_ms = 1000 * _layer_medians(warm, "wall_s")
    L["spark.exec.busy_ratio"] = L["spark.exec.run_ms"] / (wall_ms * run.cores)
    for name in PYTHON_KEYS.values():
        L[f"spark.python.{name[len('python_'):]}"] = _layer_medians(warm, name)
    # Share of op wall time no probed layer accounts for: JVM and Python work
    # inside the action outside Catalyst's phases and the jobs' own span.
    catalyst_s = sum(L[f"spark.catalyst.{p}_ms"] for p in PHASES) / 1000
    L["trace.unattributed_share"] = (
        L["spark.execute_s"] - catalyst_s - L["spark.exec.jobs_wall_ms"] / 1000
    ) / (wall_ms / 1000)
    n_ops = sum(len(v) for v in warm.values()) + n_cold
    L["trace.probe_s_per_op"] = run.probe.self_s / max(1, n_ops)


# --------------------------------------------------------------------------
# catalog_sf0.01
# --------------------------------------------------------------------------


def catalog(run: Run) -> None:
    from etl_pipeline_with_alpha_vantage_spark import registry
    from etl_pipeline_with_alpha_vantage_spark.catalog import (
        TABLES,
        clear_derived_memos,
        table,
    )

    args = run.args
    wh = os.path.join(run.work, "warehouse")
    with run.spans.span("generate"):
        gen.check_pins(os.path.join(run.work, "pins"))
        rows = gen.write_warehouse(wh, args.seed, TOY_SF if args.toy else WAREHOUSE_SF)
        if not args.toy and rows != gen.ROWS_SF001:
            raise RuntimeError(f"warehouse row counts changed: {rows}")
    mix = TOY_MIX if args.toy else CATALOG_MIX
    order = [mix[i] for i in np.random.default_rng([args.seed, 3]).permutation(len(mix))]

    def warm_inputs(spark):
        for t in TABLES:
            table(spark, wh, t).limit(1).collect()

    run.start(warm_inputs)
    spark, probe, spans = run.spark, run.probe, run.spans
    queries = registry.QUERIES

    # Each op's rows, canonicalised between ops; checked after all timing.
    outputs: dict[str, dict[str, tuple]] = collections.defaultdict(dict)
    checked: list[tuple[str, str]] = []

    def op(q, parent):
        run.attempted += 1
        try:
            rec = probe.op(q, lambda: queries[q](spark, wh),
                           lambda df: ([c.lower() for c in df.columns], df.collect()),
                           parent)
        except Exception:
            run.fail(f"{q}: {traceback.format_exc(limit=2)}")
            return None
        (cols, rows), rec["result"] = rec["result"], None
        out = (sorted(cols), canon_rows(rows, cols))
        digest = hashlib.sha256(repr(out).encode()).hexdigest()
        outputs[q].setdefault(digest, out)
        checked.append((q, digest))
        return rec

    cold: dict[str, dict] = {}
    with spans.span("cold") as parent:
        for q in mix:
            clear_derived_memos(spark)
            rec = op(q, parent)
            if rec is not None:
                cold[q] = rec
    warm: dict[str, list[dict]] = collections.defaultdict(list)
    deadline = time.perf_counter() + args.seconds
    with spans.span("warm") as parent:
        i = 0
        while i < MIN_WARM_PASSES * len(order) or time.perf_counter() < deadline:
            q = order[i % len(order)]
            rec = op(q, parent)
            if rec is not None:
                warm[q].append(rec)
            i += 1

    run.record_peak_rss()  # before DuckDB shares this process
    with spans.span("verify"):
        expected = oracle_rows(wh, mix, run.cores)
        if args.tamper:
            cols, want = expected[mix[0]]
            expected[mix[0]] = (cols, want[1:] if want else [("tampered",)])
        for q, digest in checked:
            got_cols, got = outputs[q][digest]
            want_cols, want = expected[q]
            if want_cols is None:
                run.fail(f"{q}: oracle failed: {want}")
            elif got_cols != sorted(want_cols):
                run.fail(f"{q}: columns {got_cols} differ from the oracle's {want_cols}")
            elif got != want:
                diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
                run.fail(f"{q}: {len(got)} rows vs the oracle's {len(want)}, "
                         f"first difference {diff}")

    walls = [r["wall_s"] for recs in warm.values() for r in recs]
    e = run.e2e
    e["op_p50_s"] = _median(walls)
    e["warm_total_s"] = _layer_medians(warm, "wall_s")
    e["cold_total_s"] = sum(r["wall_s"] for r in cold.values())
    e["rows_per_s"] = (_layer_medians(warm, "input_records") / e["warm_total_s"]
                       if walls else 0.0)
    if args.trace:
        _spark_layers(run, warm, len(cold), "operators.build_s")
        run.layers["catalog.derived_build_s"] = sum(
            cold[q]["wall_s"] - _median([r["wall_s"] for r in warm[q]])
            for q in cold if warm.get(q))
        for q in ATTRIBUTED:
            _attribute(run.layers, q, warm.get(q, []), cold.get(q))


def _attribute(L: dict, q: str, recs: list[dict], cold: dict | None) -> None:
    """Layer breakdown of one query's warm op (medians over its samples)."""

    def med(key):
        return _median([r[key] for r in recs])

    L[f"q.{q}.warm_s"] = med("wall_s")
    L[f"q.{q}.cold_s"] = cold["wall_s"] if cold else 0.0
    L[f"q.{q}.build_s"] = med("build_s")
    L[f"q.{q}.build_calls"] = med("build_calls")
    L[f"q.{q}.build_jobs"] = med("build_jobs")
    L[f"q.{q}.catalyst_ms"] = sum(med(f"{p}_ms") for p in PHASES)
    L[f"q.{q}.jobs_wall_ms"] = med("exec_jobs_wall_ms")
    L[f"q.{q}.tasks"] = med("tasks")
    L[f"q.{q}.python_ms"] = med("python_total_ms")


def canon_rows(rows, cols: list[str]) -> list[tuple]:
    """Rows as sorted tuples of canonical strings, columns in name order
    (the tools/verify_bare comparison rules)."""
    from tools.verify_bare import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_rows(wh: str, names: list[str], threads: int) -> dict:
    """Each query's DuckDB oracle over the warehouse as (columns, canonical
    rows), or (None, error text) when the oracle itself fails."""
    import duckdb

    from etl_pipeline_with_alpha_vantage_spark import registry
    from etl_pipeline_with_alpha_vantage_spark.catalog import TABLES

    out = {}
    with duckdb.connect(config={"threads": threads}) as con:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(wh, t + '.parquet')}'")
        for q in names:
            try:
                rel = con.sql(registry.ORACLES[q])
                cols = [c.lower() for c in rel.columns]
                out[q] = (cols, canon_rows(rel.fetchall(), cols))
            except duckdb.Error as e:
                out[q] = (None, repr(e))
    return out


# --------------------------------------------------------------------------
# etl_daily
# --------------------------------------------------------------------------


def _dir_stats(path: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]
    return len(files), sum(os.path.getsize(f) for f in files)


def etl_daily(run: Run) -> None:
    from pyspark.sql import functions as F

    from etl_pipeline_with_alpha_vantage_spark.pipeline.alpha_vantage import (
        read_raw_payloads,
        run_reference_pipeline,
        to_warehouse_schema,
    )
    from etl_pipeline_with_alpha_vantage_spark.sinks.idempotent import upsert_ignore

    args = run.args
    lake = gen.PayloadLake(os.path.join(run.work, "lake"), args.seed,
                           TOY_SYMBOLS if args.toy else ETL_SYMBOLS)
    wh = os.path.join(run.work, "warehouse")
    with run.spans.span("generate"):
        gen.check_pins(os.path.join(run.work, "pins"))
        day0 = lake.write_day(0)
    run.start(lambda spark: read_raw_payloads(
        spark, lake.day_dir(0)).limit(1).collect())
    spark, probe, spans = run.spark, run.probe, run.spans
    traced = args.trace == 1
    days: list[dict] = []

    def day_op(d: int, parent) -> dict | None:
        if d:
            with spans.span("generate", parent):
                delivery = lake.write_day(d)
        else:
            delivery = day0
        path = delivery["dir"]
        built = {}

        def build():
            built["df"] = to_warehouse_schema(
                run_reference_pipeline(spark, path))
            return built["df"]

        out_before = _dir_stats(wh)[1] if os.path.isdir(wh) else 0
        run.attempted += 1
        try:
            rec = probe.op(f"day {d}", build,
                           lambda df: upsert_ignore(spark, df, wh, keys=["symbol", "date"]),
                           parent, phase_names=("pipeline.build", "sinks.upsert"))
        except Exception:
            run.fail(f"day {d}: {traceback.format_exc(limit=2)}")
            return None
        if rec["result"] != delivery["new_rows"]:
            run.fail(f"day {d}: appended {rec['result']} rows, "
                     f"expected {delivery['new_rows']}")
        rec["rows_parsed"] = delivery["valid_rows"]
        if traced:
            n_files, n_bytes = _dir_stats(path)
            wh_files, wh_bytes = _dir_stats(wh)
            agg = built["df"].agg(F.count("*").alias("n"),
                                  F.countDistinct("symbol").alias("s")).first()
            rec.update({"files": n_files, "input_bytes_fs": n_bytes,
                        "corrupt_files": n_files - agg["s"],
                        "rows_offered": agg["n"], "rows_appended": rec["result"],
                        "output_bytes": wh_bytes - out_before,
                        "warehouse_files": wh_files})
        return rec

    with spans.span("cold") as parent:
        cold = day_op(0, parent)
    deadline = time.perf_counter() + args.seconds
    with spans.span("warm") as parent:
        d = 1
        while d <= MIN_WARM_DAYS or time.perf_counter() < deadline:
            rec = day_op(d, parent)
            if rec is not None:
                days.append(rec)
            d += 1

    run.record_peak_rss()
    with spans.span("verify"):
        problem = _verify_warehouse(lake, wh, tamper=args.tamper)
    if problem:
        run.fail(f"warehouse: {problem}")

    walls = [r["wall_s"] for r in days]
    e = run.e2e
    e["op_p50_s"] = _median(walls)
    e["warm_total_s"] = _median(walls)
    e["cold_total_s"] = cold["wall_s"] if cold else 0.0
    e["rows_per_s"] = (_median([r["rows_parsed"] for r in days]) / e["op_p50_s"]
                       if walls else 0.0)
    if traced:
        _spark_layers(run, {"day": days}, 1, "pipeline.build_s")
        L = run.layers
        L["sources.files"] = _median([r["files"] for r in days])
        L["sources.input_bytes"] = _median([r["input_bytes_fs"] for r in days])
        L["sources.corrupt_files"] = _median([r["corrupt_files"] for r in days])
        L["sinks.upsert_s"] = L["spark.execute_s"]
        for k in ("rows_appended", "rows_offered", "output_bytes"):
            L[f"sinks.{k}"] = _median([r[k] for r in days])
        L["sinks.append_ratio"] = sum(r["rows_appended"] for r in days) / max(
            1, sum(r["rows_offered"] for r in days))
        L["sinks.warehouse_files"] = days[-1]["warehouse_files"] if days else 0


def _verify_warehouse(lake: "gen.PayloadLake", wh: str, tamper: bool) -> str | None:
    """Compare the parquet warehouse with the rows a correct idempotent load
    of every delivered day holds: the key set, per-column checksums, and
    the derived change percentage within decimal(10,4) rounding."""
    import pyarrow.parquet as pq

    t = pq.read_table(wh)
    want = lake.checksums()
    if tamper:
        want["volume"] += 1
    got_keys = list(zip(t["symbol"].to_pylist(),
                        [str(d) for d in t["date"].to_pylist()]))
    want_keys = {(s, lake.date_of(i)) for s, i in lake.expected}
    if len(got_keys) != len(set(got_keys)):
        return f"{len(got_keys) - len(set(got_keys))} duplicate keys"
    if set(got_keys) != want_keys:
        return (f"key sets differ: {len(set(got_keys) - want_keys)} unexpected, "
                f"{len(want_keys - set(got_keys))} missing")
    got = {"rows": t.num_rows, "volume": sum(t["volume"].to_pylist())}
    for c in ("open_price", "high_price", "low_price", "close_price"):
        got[c] = sum(t[c].to_pylist())
    for k, v in got.items():
        if v != want[k]:
            return f"checksum {k}: got {v}, expected {want[k]}"
    pct = lake.change_pct()
    worst = max(abs(float(v) - pct[k]) for k, v in
                zip(got_keys, t["daily_change_percentage"].to_pylist()))
    if worst > 2e-4:
        return f"daily_change_percentage off by {worst}"
    if t["extraction_timestamp"].null_count:
        return "null extraction_timestamp"
    return None


WORKLOADS = {"catalog_sf0.01": catalog, "etl_daily": etl_daily}
# Per-layer metrics of layers a workload never calls; reported as 0.
NOT_APPLICABLE = {"catalog_sf0.01": ("sources.", "pipeline.", "sinks."),
                  "etl_daily": ("catalog.derived", "operators.", "q.")}
