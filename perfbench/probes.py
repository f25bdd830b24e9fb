"""Spans and per-layer probes, measured from outside the engine.

Spans are kept in memory and written out once at exit. Every per-layer
number comes from one of three places, none of which changes the plan:

* the py4j client (commands sent to the JVM, counted by kind — only
  *call* commands are stable run to run; object-release commands follow
  the Python garbage collector);
* Spark's status store (jobs of an op's job group, and each stage's task
  time, CPU, GC, shuffle, spill and input);
* the ``QueryExecution`` that actually ran, delivered to a
  ``QueryExecutionListener`` (Catalyst phase times from its planning
  tracker, and the SQL metrics of its Python exec nodes).
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import threading
import time
import uuid

from py4j.protocol import Py4JJavaError

EXEC_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "input_records", "jobs_wall_ms")
PYTHON_KEYS = {"pythonBootTime": "python_boot_ms",
               "pythonInitTime": "python_init_ms",
               "pythonTotalTime": "python_total_ms"}
PHASES = ("analysis", "optimization", "planning")


class Spans:
    """Named intervals with parents, sharing one run id."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.items: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = len(self.items)
        rec = {"run_id": self.run_id, "id": sid, "parent": parent, "name": name,
               "start": time.perf_counter() - self._t0, "end": None}
        self.items.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, parent: int | None, start: float, end: float,
            **attrs) -> int:
        """Record an interval measured elsewhere (perf_counter seconds)."""
        sid = len(self.items)
        self.items.append({"run_id": self.run_id, "id": sid, "parent": parent,
                           "name": name, "start": start - self._t0,
                           "end": end - self._t0, **attrs})
        return sid

    def duration(self, sid: int) -> float:
        return self.items[sid]["end"] - self.items[sid]["start"]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.items}, f,
                      indent=1, default=str)
            f.write("\n")


class Py4jCounter:
    """Counts py4j commands by kind (first protocol character: ``c`` call,
    ``r`` reflection, ``i`` constructor, ``m`` memory/release, ...)."""

    def __init__(self):
        self.counts: collections.Counter = collections.Counter()
        self._lock = threading.Lock()
        self._active = False
        self._orig = None

    def install(self) -> None:
        import py4j.java_gateway as jg

        self._orig = orig = jg.GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if counter._active:
                with counter._lock:
                    counter.counts[command[:1]] += 1
            return orig(client, command, *args, **kwargs)

        jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            import py4j.java_gateway as jg

            jg.GatewayClient.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def counting(self):
        self.counts.clear()
        self._active = True
        try:
            yield self.counts
        finally:
            self._active = False


class _QEListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self):
        self.events: list = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        with self._lock:
            self.events.append(qe)

    def onFailure(self, func_name, qe, exception):
        with self._lock:
            self.events.append(qe)

    def take(self) -> list:
        with self._lock:
            out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "CommandResultExec":
        return [node.commandPhysicalPlan()]
    return _seq(node.children())


def python_metrics(qe, out: collections.Counter) -> None:
    """Add the Python exec nodes' boot/init/total times (ms) of ``qe``'s
    executed plan to ``out``. Reused exchanges are leaves, so nothing is
    counted twice."""
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key, name in PYTHON_KEYS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                out[name] += opt.get().value()
        stack.extend(_plan_children(node))


def catalyst_phases(qe, out: collections.Counter) -> None:
    phases = qe.tracker().phases()
    for p in PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            out[f"{p}_ms"] += opt.get().durationMs()


def job_stats(sc, group: str, out: collections.Counter) -> None:
    """Add the status-store totals of every job in ``group`` to ``out``.
    ``jobs_wall_ms`` is the union of the jobs' submit-to-complete intervals
    (broadcast jobs overlap the job that waits for them). Must run right
    after the op: the store keeps only the last ``spark.ui.retainedJobs`` /
    ``retainedStages`` entries."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    spans = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        job = store.job(jid)
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            spans.append((sub.get().getTime(), end.get().getTime()))
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted already: more stages than retained
                out["stages_evicted"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
    reach = None
    for a, b in sorted(spans):
        if reach is None or a > reach:
            out["jobs_wall_ms"] += b - a
            reach = b
        elif b > reach:
            out["jobs_wall_ms"] += b - reach
            reach = b


class Probe:
    """Runs one op as build → execute and, when ``traced``, records each
    op's layer numbers. Untraced, it only times the two phases."""

    def __init__(self, spark, spans: Spans, traced: bool):
        self.spark, self.sc, self.spans, self.traced = (
            spark, spark.sparkContext, spans, traced)
        self._n = 0
        self.self_s = 0.0  # time the probe spends outside the timed phases
        if traced:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self.listener = _QEListener()
            spark._jsparkSession.listenerManager().register(self.listener)
            self.bus = self.sc._jsc.sc().listenerBus()
            self.counter = Py4jCounter()
            self.counter.install()

    def close(self) -> None:
        if self.traced:
            self.counter.uninstall()
            self.spark._jsparkSession.listenerManager().unregister(self.listener)
            self.traced = False

    def _drain(self) -> list:
        self.bus.waitUntilEmpty()
        return self.listener.take()

    def op(self, name: str, build, execute, parent: int | None = None,
           phase_names=("build", "execute")) -> dict:
        """``build()`` returns what ``execute(built)`` consumes. Returns the
        op record: ``wall_s``, ``build_s``, ``execute_s``, the result of
        ``execute`` under ``result``, and the layer numbers when traced."""
        self._n += 1
        t_op = time.perf_counter()
        gid = f"{self.spans.run_id}-{self._n}"
        if not self.traced:
            # Untraced, the op's jobs are labelled only so that the rows it
            # read can be looked up after it ends.
            self.sc.setJobGroup(gid, name)
            t0 = time.perf_counter()
            built = build()
            t1 = time.perf_counter()
            result = execute(built)
            t2 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            read: collections.Counter = collections.Counter()
            job_stats(self.sc, gid, read)
            rec = {"build_s": t1 - t0, "execute_s": t2 - t1, "result": result,
                   "input_records": read["input_records"]}
            spans = [(phase_names[0], t0, t1), (phase_names[1], t1, t2)]
        else:
            self.sc.setJobGroup(gid + "-b", name)
            with self.counter.counting() as cmds:
                t0 = time.perf_counter()
                built = build()
                t1 = time.perf_counter()
            calls = dict(cmds)
            self._drain()
            self.sc.setJobGroup(gid + "-x", name)
            t2 = time.perf_counter()
            result = execute(built)
            t3 = time.perf_counter()
            qes = self._drain()
            layers: collections.Counter = collections.Counter()
            for qe in qes:
                catalyst_phases(qe, layers)
                python_metrics(qe, layers)
            build_jobs: collections.Counter = collections.Counter()
            job_stats(self.sc, gid + "-b", build_jobs)
            job_stats(self.sc, gid + "-x", layers)
            exec_wall_ms = layers["jobs_wall_ms"]
            for k, v in build_jobs.items():
                layers[k] += v
            self.sc._jsc.clearJobGroup()
            rec = {"build_s": t1 - t0, "execute_s": t3 - t2, "result": result,
                   "build_calls": calls.get("c", 0), "py4j_commands": calls,
                   "build_jobs": build_jobs["jobs"], "exec_jobs_wall_ms": exec_wall_ms,
                   **{k: layers[k] for k in EXEC_KEYS},
                   **{f"{p}_ms": layers[f"{p}_ms"] for p in PHASES},
                   **{k: layers[k] for k in PYTHON_KEYS.values()}}
            spans = [(phase_names[0], t0, t1), ("probe", t1, t2),
                     (phase_names[1], t2, t3)]
            self.self_s += (time.perf_counter() - t_op) - (t1 - t0) - (t3 - t2)
        rec["wall_s"] = rec["build_s"] + rec["execute_s"]
        layers_attr = {k: v for k, v in rec.items() if k != "result"}
        sid = self.spans.add(name, parent, spans[0][1], spans[-1][2], kind="op",
                             layers=layers_attr)
        for pname, a, b in spans:
            self.spans.add(pname, sid, a, b)
        rec["span"] = sid
        return rec
