"""Layer tracing for ``--trace 1`` runs.

Three sources, none of which touches the package:

- Spark's own event log (uncompressed, not rolled): job intervals,
  stage/task counts, task metrics and the SQL plans, attributed to a
  benchmark query through the ``perfbench.query`` local property and
  to a wrapped function through ``perfbench.span``;
- spans: module functions (operators, txlog) are replaced, for the
  run, by wrappers that time each call, at the module attribute the
  package's own code looks up;
- streaming progress through a ``StreamingQueryListener`` (every
  progress, not just the last 100 ``recentProgress`` keeps), and the
  Spark 4 UDF profiler (``spark.sql.pyspark.udf.profiler=perf``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

from perfbench.stats import clip, self_times, union_length

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
            "FlatMapGroupsInPandasWithState", "AggregateInPandas",
            "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython",
            "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
            "TransformWithStateInPandas", "PythonDataSource",
            "BatchScan python", "PythonScan")

# (module, function, per-layer label). Operators are looked up by the
# plans through their module at call time, so replacing the module
# attribute catches every call.
OPERATOR_ENTRIES = (
    ("gcp_data_engineering_workshop_spark.operators.graph",
     "connected_components", "connected_components"),
    ("gcp_data_engineering_workshop_spark.operators.clustering",
     "kmeans_fit", "kmeans_fit"),
    ("gcp_data_engineering_workshop_spark.operators.classifier",
     "logistic_fit", "logistic_fit"),
    ("gcp_data_engineering_workshop_spark.operators.similarity",
     "knn_graph_gemm", "pagerank_graph"),
)
TXLOG_OPS = ("append", "merge_upsert", "delete_where", "update_where",
             "read_where", "read", "read_changes_rows", "snapshot")
MERGE_REGIMES = ("vectorized", "spark-job", "driver-loop")

STREAM_DURATIONS = {"latestOffset": "streaming.latest_offset_ms",
                    "queryPlanning": "streaming.query_planning_ms",
                    "addBatch": "streaming.add_batch_ms",
                    "walCommit": "streaming.wal_commit_ms"}


def event_log_conf(ctx) -> dict:
    d = os.path.join(ctx.work, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": d,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf"}


class ProgressCollector:
    """Every ``StreamingQueryProgress`` of the session, flattened."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def _add(self, p) -> None:
        d = dict(p.durationMs)
        ops = p.stateOperators or []
        rec = {
            "query": str(p.id), "batch": p.batchId,
            "triggerExecution": float(d.get("triggerExecution", 0)),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "late_rows": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        for k in STREAM_DURATIONS:
            rec[k] = float(d.get(k, 0))
        with self._lock:
            self.progress.append(rec)

    def wait_for(self, q, timeout: float = 30.0) -> None:
        """Block until the listener has seen the query's last batch
        (listener events arrive asynchronously)."""
        last = q.lastProgress
        if last is None:
            return
        qid, bid = str(q.id), last["batchId"]
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self._lock:
                if any(r["query"] == qid and r["batch"] >= bid
                       for r in self.progress):
                    return
            time.sleep(0.05)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def summarize_progress(progress: list[dict]) -> dict:
    out = {v: sum(r[k] for r in progress)
           for k, v in STREAM_DURATIONS.items()}
    last: dict[str, dict] = {}
    for r in progress:
        if r["query"] not in last or r["batch"] >= last[r["query"]]["batch"]:
            last[r["query"]] = r
    out["streaming.state_rows"] = sum(r["state_rows"] for r in last.values())
    out["streaming.state_mb"] = sum(r["state_bytes"]
                                    for r in last.values()) / 2**20
    out["streaming.state_commit_ms"] = sum(r["state_commit_ms"]
                                           for r in progress)
    out["streaming.late_rows_dropped"] = sum(r["late_rows"] for r in progress)
    out["streaming.batches"] = len(progress)
    return out


class Tracer:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spans: dict[int, dict] = {}
        self.queries: list[dict] = []
        self.plan: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self._next = 0
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.active = False
        self.windows: list[tuple[float, float]] = []
        self.self_ms: dict[str, float] = {}

    @contextlib.contextmanager
    def measuring(self):
        """A measured phase: spans record and jobs count only inside
        one (set-up, warm-up and correctness checks stay out)."""
        was, self.active = self.active, True
        t0 = time.time()
        try:
            yield
        finally:
            self.active = was
            if not was:
                self.windows.append((t0, time.time()))

    # -- spans -------------------------------------------------------
    def _set_prop(self, key: str, value) -> None:
        sc = self.ctx.spark.sparkContext
        sc.setLocalProperty(key, None if value is None else str(value))

    @contextlib.contextmanager
    def query(self, name: str):
        """Attribute every job started inside to benchmark query
        ``name``."""
        self._set_prop("perfbench.query", name)
        t0 = time.time()
        try:
            yield
        finally:
            if self.active:
                self.queries.append({"name": name, "t0": t0,
                                     "t1": time.time()})
            self._set_prop("perfbench.query", None)

    def plan_times(self, name: str, build_s: float, action_s: float) -> None:
        self.plan[name].append((build_s, action_s))

    def _wrap(self, label: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            stack = tracer._tls.__dict__.setdefault("stack", [])
            with tracer._lock:
                sid = tracer._next
                tracer._next += 1
            parent = stack[-1] if stack else None
            rec = {"label": label, "parent": parent, "t0": time.time()}
            tracer.spans[sid] = rec
            stack.append(sid)
            tracer._set_prop("perfbench.span", sid)
            try:
                return fn(*a, **kw)
            finally:
                rec["t1"] = time.time()
                stack.pop()
                tracer._set_prop("perfbench.span",
                                 stack[-1] if stack else None)
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        for mod, fn, label in OPERATOR_ENTRIES:
            m = importlib.import_module(mod)
            self._patch(m, fn, self._wrap(f"operators.{label}",
                                          getattr(m, fn)))
        from gcp_data_engineering_workshop_spark.sources import txlog as T
        for op in TXLOG_OPS:
            self._patch(T, op, self._wrap(f"txlog.{op}", getattr(T, op)))
        orig_sink = T.stream_sink
        tracer = self

        def stream_sink(*a, **kw):
            return tracer._wrap("txlog.stream_sink", orig_sink(*a, **kw))
        self._patch(T, "stream_sink", stream_sink)

        # sinks.foreach_batch_upsert builds its callback inside; time it
        # where it is handed to Spark
        from pyspark.sql.streaming import DataStreamWriter

        from gcp_data_engineering_workshop_spark.streaming import sinks
        orig_fb = DataStreamWriter.foreachBatch
        self.layer["sinks.foreach_batch_ms"] = 0.0

        def foreach_batch(writer, func):
            if getattr(func, "__module__", "") == sinks.__name__:
                inner = func

                def func(df, batch_id):
                    t0 = time.perf_counter()
                    try:
                        inner(df, batch_id)
                    finally:
                        if tracer.active:
                            tracer.layer["sinks.foreach_batch_ms"] += (
                                time.perf_counter() - t0) * 1000.0
            return orig_fb(writer, func)
        self._patch(DataStreamWriter, "foreachBatch", foreach_batch)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- UDF profiler ------------------------------------------------
    def collect_udf_profile(self) -> None:
        udf_s = calls = 0.0
        try:
            results = self.ctx.spark._profiler_collector._perf_profile_results
        except AttributeError:
            results = {}
        for stats in results.values():
            if not stats.stats:
                continue
            # the UDF body is the entry with the largest cumulative time
            cc, nc, tt, ct, _ = max(stats.stats.values(), key=lambda s: s[3])
            udf_s += ct
            calls += nc
        self.layer["functions.udf_s"] = udf_s
        self.layer["functions.udf_calls"] = calls

    # -- event log ---------------------------------------------------
    def read_event_log(self, app_id: str) -> list[dict]:
        """Parse the finished session's event log. Returns per-query
        rows and fills the ``spark.*``/``plans.*``/``driver.*``/span
        layer metrics for the measured phases."""
        files = glob.glob(os.path.join(self.ctx.work, "eventlog", f"{app_id}*"))
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_ids: set = set()
        exec_plans: dict[int, dict] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "t0": ev["Submission Time"] / 1000.0,
                            "query": props.get("perfbench.query"),
                            "span": props.get("perfbench.span"),
                            "sql": props.get("spark.sql.execution.id"),
                            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                            "shuffle_w": 0, "shuffle_r": 0, "spill": 0,
                            "input": 0, "result": 0, "stages": 0}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = \
                                ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        sid = ev["Stage Info"]["Stage ID"]
                        if sid in stage_job and sid not in stage_ids:
                            stage_ids.add(sid)
                            jobs[stage_job[sid]]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        j = jobs.get(stage_job.get(ev.get("Stage ID")))
                        m = ev.get("Task Metrics")
                        if j is None or not m:
                            continue
                        sr = m.get("Shuffle Read Metrics", {})
                        sw = m.get("Shuffle Write Metrics", {})
                        j["tasks"] += 1
                        j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        j["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                        j["shuffle_r"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                        j["spill"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                        j["input"] += m.get("Input Metrics", {}).get(
                            "Bytes Read", 0)
                        j["result"] += m.get("Result Size", 0)
                    elif kind == ("org.apache.spark.sql.execution.ui."
                                  "SparkListenerSQLExecutionStart"):
                        exec_plans[ev["executionId"]] = \
                            _count_nodes(ev.get("sparkPlanInfo", {}))
                    elif kind == ("org.apache.spark.sql.execution.ui."
                                  "SparkListenerSQLAdaptiveExecutionUpdate"):
                        exec_plans[ev["executionId"]] = \
                            _count_nodes(ev.get("sparkPlanInfo", {}))
        for j in jobs.values():
            j.setdefault("t1", j["t0"])
        window = [j for j in jobs.values()
                  if any(lo <= j["t0"] and j["t1"] <= hi
                         for lo, hi in self.windows)]
        self._fill_spark(window, exec_plans,
                         sum(hi - lo for lo, hi in self.windows))
        self._fill_spans(jobs)
        return self._query_rows(jobs, exec_plans)

    def _fill_spark(self, jobs, plans, wall_s) -> None:
        L = self.layer
        jobs_s = union_length([(j["t0"], j["t1"]) for j in jobs])
        L["spark.jobs"] = len(jobs)
        L["spark.stages"] = sum(j["stages"] for j in jobs)
        L["spark.tasks"] = sum(j["tasks"] for j in jobs)
        L["spark.jobs_s"] = jobs_s
        L["driver.outside_jobs_s"] = max(wall_s - jobs_s, 0.0)
        L["spark.task_run_s"] = sum(j["run_s"] for j in jobs)
        L["spark.task_cpu_s"] = sum(j["cpu_s"] for j in jobs)
        L["spark.task_offcpu_s"] = max(
            L["spark.task_run_s"] - L["spark.task_cpu_s"], 0.0)
        for k, name in (("shuffle_w", "shuffle_write_mb"),
                        ("shuffle_r", "shuffle_read_mb"),
                        ("spill", "spill_mb"), ("input", "input_mb"),
                        ("result", "result_mb")):
            L[f"spark.{name}"] = sum(j[k] for j in jobs) / 2**20
        execs = {j["sql"] for j in jobs if j["sql"] is not None}
        L["plans.exchanges"] = sum(plans.get(int(e), {}).get("exchanges", 0)
                                   for e in execs)
        L["plans.python_nodes"] = sum(plans.get(int(e), {}).get("python", 0)
                                      for e in execs)
        builds = [b for v in self.plan.values() for b, _ in v]
        actions = [a for v in self.plan.values() for _, a in v]
        L["plans.build_s"] = sum(builds)
        L["plans.action_s"] = sum(actions)

    def _fill_spans(self, jobs) -> None:
        """``<label>.ms`` / ``.calls`` / ``.jobs`` per wrapped entry
        point; for txlog also ``.driver_ms`` = wall minus the Spark
        job time that ran inside the call."""
        by_span: dict[int, list] = defaultdict(list)
        for j in jobs.values():
            if j["span"] is not None:
                by_span[int(j["span"])].append((j["t0"], j["t1"]))
        children: dict[int, list[int]] = defaultdict(list)
        for sid, s in self.spans.items():
            if s["parent"] is not None:
                children[s["parent"]].append(sid)

        def subtree_jobs(sid):
            out = list(by_span.get(sid, ()))
            for c in children.get(sid, ()):
                out.extend(subtree_jobs(c))
            return out

        done = {sid: s for sid, s in self.spans.items() if "t1" in s}
        own = self_times({sid: (s["parent"] if s["parent"] in done else None,
                                s["t1"] - s["t0"]) for sid, s in done.items()})
        for sid, t in own.items():
            lab = done[sid]["label"]
            self.self_ms[lab] = self.self_ms.get(lab, 0.0) + t * 1000.0
        L = self.layer
        for mod, fn, label in OPERATOR_ENTRIES:
            for suffix in ("ms", "calls", "jobs"):
                L[f"operators.{label}.{suffix}"] = 0.0
        for op in TXLOG_OPS + ("stream_sink",):
            L[f"txlog.{op}.ms"] = L[f"txlog.{op}.driver_ms"] = 0.0
        for sid, s in self.spans.items():
            if "t1" not in s:
                continue
            # count a nested call of the same label once, at its root
            p = s["parent"]
            if p is not None and self.spans[p]["label"] == s["label"]:
                continue
            wall = s["t1"] - s["t0"]
            iv = clip(subtree_jobs(sid), s["t0"], s["t1"])
            lab = s["label"]
            L[f"{lab}.ms"] = L.get(f"{lab}.ms", 0.0) + wall * 1000.0
            if lab.startswith("operators."):
                L[f"{lab}.calls"] += 1
                L[f"{lab}.jobs"] += len(subtree_jobs(sid))
            else:
                L[f"{lab}.driver_ms"] += (wall - union_length(iv)) * 1000.0

    def _query_rows(self, jobs, plans) -> list[dict]:
        """The per-query re-anchor row: wall, outside jobs, jobs,
        tasks, task run s, JVM CPU s, shuffle MB."""
        rows = []
        by_q: dict[str, list] = defaultdict(list)
        for q in self.queries:
            by_q[q["name"]].append(q)
        qjobs: dict[str, list] = defaultdict(list)
        for j in jobs.values():
            if j["query"]:
                qjobs[j["query"]].append(j)
        for name, runs in by_q.items():
            js = [j for j in qjobs.get(name, [])
                  if any(r["t0"] <= j["t0"] <= r["t1"] for r in runs)]
            wall = sum(r["t1"] - r["t0"] for r in runs)
            jt = sum(union_length(clip([(j["t0"], j["t1"]) for j in js],
                                       r["t0"], r["t1"])) for r in runs)
            n = len(runs)
            build = [b for b, _ in self.plan.get(name, [])]
            rows.append({
                "query": name, "runs": n,
                "wall_s": wall / n,
                "outside_jobs_s": (wall - jt) / n,
                "build_s": sum(build) / n if build else None,
                "jobs": len(js) / n,
                "tasks": sum(j["tasks"] for j in js) / n,
                "task_run_s": sum(j["run_s"] for j in js) / n,
                "jvm_cpu_s": sum(j["cpu_s"] for j in js) / n,
                "shuffle_mb": sum(j["shuffle_w"] for j in js) / 2**20 / n,
            })
        return rows


def _count_nodes(info: dict) -> dict:
    out = {"exchanges": 0, "python": 0}
    stack = [info]
    while stack:
        n = stack.pop()
        name = n.get("nodeName", "")
        if "Exchange" in name and "Reused" not in name:
            out["exchanges"] += 1
        if any(name.startswith(p) for p in PY_NODES):
            out["python"] += 1
        stack.extend(n.get("children", []))
    return out
