"""Tracing for the traced run: spans recorded from the benchmark's own
files around calls into each layer, plus Spark's own records.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them out once, at the end of the run.
- ``QueryExecutionRecorder`` is a JVM ``QueryExecutionListener`` that
  keeps the Catalyst phase times (analysis, optimization, planning)
  from the tracker of every finished query execution.
- ``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` (``durationMs`` parts, ``stateOperators``).
- ``status_store`` reads jobs and stages, with task-time quantiles,
  from the Spark status store in one call each.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id, **attrs})
        return sid

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (when enabled)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = self.add(name, time.time(), 0.0, parent)
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def named(self, name: str, t0: float | None = None, t1: float | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]
                and (t0 is None or s["start"] >= t0) and (t1 is None or s["end"] <= t1)]

    def children_of(self, span: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]
                and (name is None or s["name"] == name)]

    def dump(self, path: str, extra: list[dict] | None = None):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans + (extra or []):
                f.write(json.dumps(s, default=float) + "\n")


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    cut = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            cut.append((a, b))
    cut.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(tracer: Tracer, span: dict) -> float:
    """Span duration minus the part of it that child spans cover."""
    kids = [(c["start"], c["end"]) for c in tracer.children_of(span)]
    return (span["end"] - span["start"]) - union_length(kids, span["start"], span["end"])


class QueryExecutionRecorder:
    """JVM QueryExecutionListener (through the py4j callback server)."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        try:
            phases = {}
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                p = kv._2()
                phases[kv._1()] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0,
                                   float(p.durationMs()))
            self.events.append({"func": func_name, "end": time.time(),
                                "duration_s": duration_ns / 1e9, "phases": phases})
        except Exception as e:  # noqa: BLE001 — a listener must not kill the bus
            self.events.append({"func": func_name, "error": repr(e)})

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        self.events.append({"func": func_name, "end": time.time(), "failed": True,
                            "phases": {}})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def register(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def unregister(self, spark):
        spark._jsparkSession.listenerManager().unregister(self)


class ProgressRecorder(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802 (Spark API)
        p = json.loads(event.progress.json)
        p["_received"] = time.time()
        self.progress.append(p)

    def onQueryIdle(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryTerminated(self, event):  # noqa: N802 (Spark API)
        pass


def drain_listener_bus(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the live status store, serialized to JSON in
    the JVM. Stages carry ``taskMetricsDistributions`` at quantiles
    0.5 and 1.0 (median and max task run time)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0] = 0.5
    quantiles[1] = 1.0
    empty = jvm.java.util.ArrayList()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, True, quantiles, empty)))
    return jobs, stages


def engine_totals(jobs: list[dict], stages: list[dict], windows, cores: int) -> dict:
    """Job, stage and task totals for jobs submitted inside ``windows``
    (a list of (start_s, end_s)); ``engine.exec_s`` is their summed
    length."""
    picked = jobs_in(jobs, windows)
    stage_ids = {sid for j in picked for sid in j.get("stageIds", [])}
    st = [s for s in stages if s["stageId"] in stage_ids and s.get("status") != "SKIPPED"]
    skew = 0.0
    for s in st:
        dist = s.get("taskMetricsDistributions") or {}
        run = dist.get("executorRunTime") or []
        if len(run) == 2 and run[0] > 0:
            skew = max(skew, run[1] / run[0])
    exec_s = sum(b - a for a, b in windows)
    busy = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
    return {
        "engine.exec_s": exec_s,
        "engine.jobs": len(picked),
        "engine.stages": len(st),
        "engine.tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "engine.task_busy_s": busy,
        "engine.core_util": busy / (cores * exec_s) if exec_s > 0 else 0.0,
        "engine.gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1000.0,
        "engine.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in st),
        "engine.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "engine.input_bytes": sum(s.get("inputBytes", 0) for s in st),
        "engine.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                  for s in st),
        "engine.stage_skew_max": skew,
    }


def jobs_in(jobs: list[dict], windows) -> list[dict]:
    """Jobs submitted inside any (start_s, end_s) window (the status
    store stamps submission in whole milliseconds)."""
    out = []
    for j in jobs:
        t = (j.get("submissionTime") or 0) / 1000.0
        if any(a - 0.002 <= t <= b + 0.002 for a, b in windows):
            out.append(j)
    return out


def job_interval(j: dict) -> tuple[float, float]:
    a = j["submissionTime"] / 1000.0
    b = (j.get("completionTime") or j["submissionTime"]) / 1000.0
    return a, b
