"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side of every layer boundary
(run -> pass -> operation -> build / force / ALS call -> Spark job) and kept
in memory until the run ends. The layers below the harness are read from
Spark's own hooks, with nothing added inside the package:

- Spark jobs, stages and task metrics from an uncompressed local event log,
  keyed by a job group set to the operation's span id. The event-logging
  listener is added for each traced pass and removed after it, so the
  untraced passes of a traced run, against which ``trace.overhead`` is
  taken, pay for none of the tracing. Micro-batch jobs run
  on the stream's own thread under the stream's run id, so they are mapped
  back to the operation that started the stream.
- Catalyst phase times from a ``QueryExecutionListener`` (``QueryExecution
  .tracker()``), plus the analysis of the DataFrame a build returned.
- Micro-batch durations and state sizes from a ``StreamingQueryListener``.
- ``caching.collected`` calls from a wrapper installed before the query
  modules import it.

Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

MB = float(1 << 20)
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")

# metric name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sources.warm_scan_s": ("s", "lower"),
    "registry.build_s": ("s", "lower"),
    "registry.force_s": ("s", "lower"),
    "driver.self_s": ("s", "lower"),
    "driver.jobs_in_build": ("count", "lower"),
    "caching.collected_calls": ("count", "lower"),
    "caching.collected_rows": ("count", "lower"),
    "caching.collected_s": ("s", "lower"),
    "caching.deferred_released": ("count", "lower"),
    "caching.persisted_mb": ("MB", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "exec.gc_s": ("s", "lower"),
    "exec.input_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.peak_exec_mem_mb": ("MB", "lower"),
    "exec.output_mb": ("MB", "lower"),
    "exec.files_written": ("count", "lower"),
    "python.sent_mb": ("MB", "lower"),
    "python.recv_mb": ("MB", "lower"),
    "python.rows_recv": ("count", "lower"),
    "ml.train_explicit_s": ("s", "lower"),
    "ml.train_implicit_s": ("s", "lower"),
    "ml.train_nonneg_s": ("s", "lower"),
    "ml.evaluate_s": ("s", "lower"),
    "ml.recommend_s": ("s", "lower"),
    "ml.train_jobs": ("count", "lower"),
    "ml.rmse": ("rating", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "trace.overhead": ("ratio", "lower"),
}

# Per-pass levels: the pass reports their maximum, every other metric is a sum.
_LEVELS = {"caching.persisted_mb", "exec.peak_exec_mem_mb"}
_ML_CALLS = {
    "als_train_explicit": "ml.train_explicit_s",
    "als_train_implicit": "ml.train_implicit_s",
    "als_train_nonneg": "ml.train_nonneg_s",
    "als_evaluate": "ml.evaluate_s",
    "als_evaluate_nonneg": "ml.evaluate_s",
    "als_recommend": "ml.recommend_s",
}


def _phases(qe) -> dict[str, int]:
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


class _QueryListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        rec = self.tracer.current
        if rec is not None:
            for phase, ms in _phases(qe).items():
                rec["catalyst"][phase] = rec["catalyst"].get(phase, 0) + ms

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        # Called synchronously inside DataStreamWriter.start(), so the
        # operation under way is the one that started the stream.
        if self.tracer.current is not None:
            self.tracer.stream_owner[str(event.runId)] = self.tracer.current["span"]

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.progress[str(p.runId)].append(
            {
                "batch": p.batchId,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Records spans and counters of one traced run and turns them, with the
    event log, into the per-layer metrics."""

    def __init__(self, run_dir: str):
        self.eventlog_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        self._ids = itertools.count(1)
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.current: dict | None = None
        self._op_span: dict | None = None
        self._parent: list[int] = []
        self.stream_owner: dict[str, int] = {}
        self.progress: dict[str, list] = defaultdict(list)
        self._listeners = None
        self._logs = itertools.count(1)
        self.run_span = self._open("run", "run")

    # -- session wiring -------------------------------------------------------
    def install_collected_wrapper(self) -> None:
        """Wrap ``caching.collected``; must run before ``load_all_queries``
        imports the query modules, which bind the name at import time."""
        import als_pyspark_spark.caching as caching

        inner = caching.collected
        tracer = self

        @functools.wraps(inner)
        def collected(spark, result, *cached):
            rec = tracer.current
            if rec is None:
                return inner(spark, result, *cached)
            rows = []
            collect = result.collect

            def counting_collect():
                out = collect()
                rows.append(len(out))
                return out

            result.collect = counting_collect
            start = time.time()
            try:
                return inner(spark, result, *cached)
            finally:
                end = time.time()
                tracer._record("caching.collected", "collected", start, end)
                rec["collected_calls"] += 1
                rec["collected_rows"] += sum(rows)
                rec["collected_s"] += end - start

        caching.collected = collected

    def listen(self, spark, on: bool) -> None:
        """Attach the event log, Catalyst and streaming listeners for a
        traced pass and detach them for an untraced one."""
        sc = spark.sparkContext
        if on and self._listeners is None:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(sc._gateway)
            jvm, jsc = sc._jvm, sc._jsc.sc()
            conf = (
                jsc.conf()
                .clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
            )
            log = jvm.org.apache.spark.scheduler.EventLoggingListener(
                jsc.applicationId(),
                jvm.scala.Option.apply(f"log{next(self._logs)}"),
                jvm.java.net.URI("file://" + self.eventlog_dir),
                conf,
                jsc.hadoopConfiguration(),
            )
            log.start()
            jsc.addSparkListener(log)
            qel, sql = _QueryListener(self), _StreamListener(self)
            spark._jsparkSession.listenerManager().register(qel)
            spark.streams.addListener(sql)
            self._listeners = (log, qel, sql)
        elif not on and self._listeners is not None:
            log, qel, sql = self._listeners
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(log)
            log.stop()
            spark._jsparkSession.listenerManager().unregister(qel)
            spark.streams.removeListener(sql)
            self._listeners = None

    # -- spans ----------------------------------------------------------------
    def _open(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": next(self._ids),
            "parent": self._parent[-1] if self._parent else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._parent.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._parent.pop()

    def _record(self, name: str, kind: str, start: float, end: float) -> None:
        self.spans.append(
            {
                "id": next(self._ids),
                "parent": self._parent[-1] if self._parent else None,
                "name": name,
                "kind": kind,
                "start": start,
                "end": end,
            }
        )

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        span = self._open(name, kind, **attrs)
        try:
            yield span
        finally:
            self._close(span)

    def phase(self, kind: str):
        return self.span(kind, kind)

    def pass_begin(self, index: int) -> dict:
        return self._open(f"pass{index}", "pass", index=index)

    def pass_end(self, span: dict, wall: float, traced: bool) -> None:
        self._close(span)
        self.passes.append({"span": span["id"], "wall": wall, "traced": traced})

    def op_begin(self, spark, name: str, pass_span: dict) -> None:
        self._op_span = self._open(name, "operation")
        self.current = {
            "op": name,
            "span": self._op_span["id"],
            "pass": pass_span["id"],
            "collected_calls": 0,
            "collected_rows": 0,
            "collected_s": 0.0,
            "catalyst": {},
        }
        spark.sparkContext.setJobGroup(f"perfbench-op-{self._op_span['id']}", name)

    def op_end(self, spark, result, released: int) -> None:
        rec = self.current
        sc = spark.sparkContext
        # Let every listener event of this operation arrive before the next one.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if hasattr(result, "_jdf"):
            analysis = _phases(result._jdf.queryExecution()).get("analysis", 0)
            rec["catalyst"]["analysis"] = rec["catalyst"].get("analysis", 0) + analysis
        elif isinstance(result, float):
            rec["value"] = result
        rec["deferred_released"] = released
        rec["persisted_mb"] = (
            sum(r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo()) / MB
        )
        self.current = None
        self._close(self._op_span)
        self.ops.append(rec)

    # -- after the session stopped ----------------------------------------------
    def finish(self, setup: dict, cores: int) -> dict[str, float]:
        self._close(self.run_span)
        events = _read_eventlog(self.eventlog_dir)
        per_op = self._attribute(events)
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes if not p["traced"]]
        per_pass = []
        for p in traced:
            recs = [per_op[r["span"]] for r in self.ops if r["pass"] == p["span"]]
            sums = {}
            for m in PER_LAYER:
                vals = [r.get(m, 0.0) for r in recs]
                sums[m] = max(vals, default=0.0) if m in _LEVELS else float(sum(vals))
            sums["exec.busy_ratio"] = sums["exec.task_s"] / (p["wall"] * cores)
            per_pass.append(sums)
            p["metrics"] = sums
        out = {m: statistics.median(pp[m] for pp in per_pass) for m in PER_LAYER}
        out["session.start_s"] = setup["session_s"]
        out["sources.warm_scan_s"] = setup["warm_scan_s"]
        out["trace.overhead"] = statistics.median(p["wall"] for p in traced) / statistics.median(
            p["wall"] for p in untraced
        )
        self.per_op = per_op
        return out

    def _attribute(self, events: list[dict]) -> dict[int, dict]:
        """Spark jobs, tasks and SQL metrics of the event log, per operation."""
        ops = {r["span"]: r for r in self.ops}
        span_of = {s["id"]: s for s in self.spans}
        by_time = sorted(
            ((span_of[i]["start"], span_of[i]["end"], i) for i in ops), key=lambda t: t[0]
        )

        def owner(group: str | None, at_ms: float) -> int | None:
            if group and group.startswith("perfbench-op-"):
                return int(group.rsplit("-", 1)[1])
            if group in self.stream_owner:
                return self.stream_owner[group]
            at = at_ms / 1000.0
            for start, end, i in by_time:  # jobs of helper threads: by time
                if start <= at <= end:
                    return i
            return None

        accum_name: dict[int, str] = {}
        py_rows_ids: set[int] = set()

        def walk(plan: dict) -> None:
            python_node = any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS)
            for metric in plan.get("metrics", []):
                accum_name[metric["accumulatorId"]] = metric["name"]
                if python_node and metric["name"] == "number of output rows":
                    py_rows_ids.add(metric["accumulatorId"])
            for child in plan.get("children", []):
                walk(child)

        jobs, stage_job, exec_op = {}, {}, {}
        driver_updates = []
        tasks = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"],
                    "stages": e["Stage IDs"],
                }
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif kind.endswith("SQLExecutionStart"):
                walk(e["sparkPlanInfo"])
                exec_op[e["executionId"]] = owner(e.get("jobGroupId"), e["time"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"])
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for metric in e.get("sqlPlanMetrics", []):
                    accum_name[metric["accumulatorId"]] = metric["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append(e)

        per_op = {i: _zero_metrics() for i in ops}
        for job in jobs.values():
            job["op"] = owner(job["group"], job["start"])
            job.setdefault("end", job["start"])
            if job["op"] in per_op:
                per_op[job["op"]]["jobs"].append(job)
        stages_seen = defaultdict(set)
        for t in tasks:
            job = jobs.get(stage_job.get(t["Stage ID"]))
            if job is None or job["op"] not in per_op:
                continue
            m = per_op[job["op"]]
            tm = t.get("Task Metrics") or {}
            stages_seen[job["op"]].add(t["Stage ID"])
            m["exec.tasks"] += 1
            m["exec.task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["exec.input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            m["exec.output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            m["exec.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            m["exec.shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            m["exec.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            m["exec.peak_exec_mem_mb"] = max(m["exec.peak_exec_mem_mb"], tm.get("Peak Execution Memory", 0) / MB)
            for acc in (t.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == "data sent to Python workers":
                    m["python.sent_mb"] += float(upd) / MB
                elif name == "data returned from Python workers":
                    m["python.recv_mb"] += float(upd) / MB
                elif acc.get("ID") in py_rows_ids:
                    m["python.rows_recv"] += float(upd)
                elif name == "number of written files":
                    m["exec.files_written"] += float(upd)
        for e in driver_updates:
            op = exec_op.get(e["executionId"])
            if op not in per_op:
                continue
            for acc_id, value in e["accumUpdates"]:
                if accum_name.get(acc_id) == "number of written files":
                    per_op[op]["exec.files_written"] += float(value)

        for span_id, rec in ops.items():
            m = per_op[span_id]
            m["op"] = rec["op"]
            m["exec.stages"] = float(len(stages_seen[span_id]))
            m["exec.jobs"] = float(len(m["jobs"]))
            phases = [s for s in self.spans if s["parent"] == span_id]
            for s in phases:
                dur = s["end"] - s["start"]
                if s["kind"] == "build":
                    m["registry.build_s"] += dur
                    inside = [
                        (j["start"] / 1000.0, j["end"] / 1000.0)
                        for j in m["jobs"]
                        if s["start"] <= j["start"] / 1000.0 <= s["end"]
                    ]
                    m["driver.jobs_in_build"] += len(inside)
                    m["driver.self_s"] += dur - _covered(inside, s["start"], s["end"])
                elif s["kind"] == "force":
                    m["registry.force_s"] += dur
                elif s["kind"] == "call" and rec["op"] in _ML_CALLS:
                    m[_ML_CALLS[rec["op"]]] += dur
                    if rec["op"].startswith("als_train"):
                        m["ml.train_jobs"] += len(m["jobs"])
            if rec["op"] == "als_evaluate":
                m["ml.rmse"] = rec.get("value", 0.0)
            m["caching.collected_calls"] = rec["collected_calls"]
            m["caching.collected_rows"] = rec["collected_rows"]
            m["caching.collected_s"] = rec["collected_s"]
            m["caching.deferred_released"] = rec["deferred_released"]
            m["caching.persisted_mb"] = rec["persisted_mb"]
            m["catalyst.analysis_ms"] = rec["catalyst"].get("analysis", 0)
            m["catalyst.optimization_ms"] = rec["catalyst"].get("optimization", 0)
            m["catalyst.planning_ms"] = rec["catalyst"].get("planning", 0)
            for run_id, owner_id in self.stream_owner.items():
                if owner_id != span_id:
                    continue
                batches = self.progress.get(run_id, [])
                m["streaming.batches"] += len(batches)
                for b in batches:
                    d = b["duration_ms"]
                    m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
                    m["streaming.add_batch_ms"] += d.get("addBatch", 0)
                    m["streaming.planning_ms"] += d.get("queryPlanning", 0)
                    m["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                if batches:
                    m["streaming.state_rows"] += batches[-1]["state_rows"]
            for job in m["jobs"]:
                parent = next(
                    (s["id"] for s in phases if s["start"] <= job["start"] / 1000.0 <= s["end"]),
                    span_id,
                )
                self.spans.append(
                    {
                        "id": next(self._ids),
                        "parent": parent,
                        "name": f"job{job['id']}",
                        "kind": "job",
                        "start": job["start"] / 1000.0,
                        "end": job["end"] / 1000.0,
                        "stages": len(job["stages"]),
                    }
                )
            m["jobs"] = [j["id"] for j in m["jobs"]]
        return per_op

    def write(self, path: str, header: dict) -> None:
        spans = sorted(self.spans, key=lambda s: (s["start"], s["id"]))
        by_parent = defaultdict(list)
        for s in spans:
            by_parent[s["parent"]].append(s)
        for s in spans:  # self time: duration minus what the children cover
            kids = [(c["start"], c["end"]) for c in by_parent[s["id"]]]
            s["self_s"] = (s["end"] - s["start"]) - _covered(kids, s["start"], s["end"])
        doc = {
            **header,
            "passes": self.passes,
            "operations": list(self.per_op.values()),
            "streams": {k: {"op_span": v, "batches": self.progress.get(k, [])} for k, v in self.stream_owner.items()},
            "spans": spans,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def _zero_metrics() -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["jobs"] = []
    return m


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def _read_eventlog(directory: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events
