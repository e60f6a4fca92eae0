"""Shared plumbing for the workloads: metric catalogue, run context,
Spark session start and stop, memory sampling, host telemetry and the
result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

# End-to-end metrics: every workload reports every one of them, with
# tracing off. (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
]

# Per-layer metrics, reported by the traced run. A layer the workload
# does not exercise reads 0 (no calls, no time, no samples).
PER_LAYER = [
    ("workload.closed_loop_s", "s", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("tables.load_s", "s", "lower"),
    ("tables.load_calls", "count", "lower"),
    ("tables.schema_jobs", "count", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.build_self_s", "s", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("operators.eager_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("catalyst.build_analysis_ms", "ms", "lower"),
    ("engine.exec_s", "s", "lower"),
    ("engine.jobs", "count", "lower"),
    ("engine.stages", "count", "lower"),
    ("engine.tasks", "count", "lower"),
    ("engine.task_busy_s", "s", "lower"),
    ("engine.core_util", "ratio", "higher"),
    ("engine.gc_s", "s", "lower"),
    ("engine.shuffle_read_bytes", "bytes", "lower"),
    ("engine.shuffle_write_bytes", "bytes", "lower"),
    ("engine.input_bytes", "bytes", "lower"),
    ("engine.spill_bytes", "bytes", "lower"),
    ("engine.stage_skew_max", "ratio", "lower"),
    ("sources.webhook_request_ms_p50", "ms", "lower"),
    ("sources.webhook_request_ms_mean", "ms", "lower"),
    ("sources.latest_offset_ms_p50", "ms", "lower"),
    ("sources.get_batch_ms_p50", "ms", "lower"),
    ("sources.spool_files", "count", "lower"),
    ("sources.backlog_end_msgs", "count", "lower"),
    ("pipeline.batches", "count", "higher"),
    ("pipeline.rows_per_batch_p50", "rows", "higher"),
    ("pipeline.trigger_ms_p50", "ms", "lower"),
    ("pipeline.trigger_ms_p95", "ms", "lower"),
    ("pipeline.query_planning_ms_p50", "ms", "lower"),
    ("pipeline.add_batch_ms_p50", "ms", "lower"),
    ("pipeline.wal_commit_ms_p50", "ms", "lower"),
    ("pipeline.commit_offsets_ms_p50", "ms", "lower"),
    ("pipeline.idle_share", "ratio", "higher"),
    ("pipeline.drain_msgs_s", "msgs/s", "higher"),
    ("handlers.invoke_ms_p50", "ms", "lower"),
    ("sinks.write_ms_p50", "ms", "lower"),
    ("sinks.write_ms_p95", "ms", "lower"),
    ("sinks.rows_written", "rows", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_bytes", "bytes", "lower"),
    ("streaming.state_commit_ms_p50", "ms", "lower"),
    ("streaming.state_update_ms_p50", "ms", "lower"),
    ("streaming.rows_dropped_by_watermark", "count", "lower"),
    ("streaming.window_trigger_ms_p50", "ms", "lower"),
    ("gen.msgs", "count", "higher"),
    ("gen.lateness_p95_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("trace.unattributed_share", "ratio", "lower"),
]


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100); 0.0 for no samples."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def host_sample() -> dict:
    """1-minute load average and cumulative CPU jiffies (busy, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"t": time.time(), "load1": os.getloadavg()[0],
            "total": sum(v), "idle": v[3] + v[4], "steal": v[7]}


def host_window(a: dict, b: dict) -> dict:
    total = max(b["total"] - a["total"], 1)
    return {"load1_start": round(a["load1"], 2), "load1_end": round(b["load1"], 2),
            "busy_share": round(1.0 - (b["idle"] - a["idle"]) / total, 4),
            "steal_share": round((b["steal"] - a["steal"]) / total, 4),
            "cpus": os.cpu_count()}


class RssSampler:
    """Peak summed resident memory of the JVM and Python processes in
    this process's tree (the driver JVM and its Python workers are
    descendants), minus excluded pids such as the load generator. A daemon thread re-reads the process
    tree every ``rescan`` seconds and the resident sizes of its members
    every ``interval`` seconds, between ``start()`` and ``stop()``.
    ``peak_detail`` maps each member to its resident MB at the peak."""

    def __init__(self, interval: float = 0.2, rescan: float = 1.0):
        self.interval = interval
        self.rescan = rescan
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_detail: dict[str, float] = {}
        self._pids: list[tuple[int, str]] = []
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _scan(self):
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        pids, stack = [], [os.getpid()]
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            stack.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            # Only the JVM and Python processes: the JVM forks short-lived
            # helpers (file-system commands) that briefly report the
            # whole parent's resident pages as their own.
            if name == "java" or name.startswith("python"):
                pids.append((pid, name))
        self._pids = pids

    def sample(self):
        total, detail = 0, {}
        for pid, name in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    kb = int(f.read().split()[1]) * self._page_kb
            except (OSError, ValueError, IndexError):
                continue
            total += kb
            detail[f"{name}:{pid}"] = round(kb / 1024.0, 1)
        if total > self.peak_kb:
            self.peak_kb, self.peak_detail = total, detail

    def _loop(self):
        next_scan = 0.0
        while not self._stop.is_set():
            if time.time() >= next_scan:
                self._scan()
                next_scan = time.time() + self.rescan
            self.sample()
            self._stop.wait(self.interval)

    def start(self):
        self._scan()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
        self._scan()
        self.sample()
        return self.peak_kb / 1024.0


class Run:
    """One benchmark invocation: arguments, scratch directory, Spark
    session, metric and failure accounting."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tiny: bool, root: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tiny = tiny
        self.root = root
        self.t_process = t_process
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(root, ".perfbench_run", self.run_id)
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: dict = {}
        self.spark = None
        self.t_timed = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fail(self, n: int, why: str):
        """Count ``n`` failed operations and keep the reason."""
        if n:
            self.failed += n
            self.problems.append(why)

    def start_timed(self):
        self._host_timed = host_sample()
        self.t_timed = time.time()
        self.metrics["setup_s"] = self.t_timed - self.t_process

    def end_timed(self):
        """Host load, busy and steal shares over the timed phase (logged)."""
        self.notes["host_timed"] = host_window(self._host_timed, host_sample())

    def start_session(self):
        """Start the session the way the package does (get_spark), with
        status-store retention raised so a traced run keeps every job
        and stage of its timed phase."""
        from sql_flow_spark.session import get_spark

        t0 = time.time()
        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(f"perfbench-{self.workload}", extra_confs={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.metrics["session.start_s"] = time.time() - t0
        return self.spark

    def stop_session(self):
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — best effort, the wait below decides
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=10)
            self.spark = None

    def cleanup(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        try:
            os.rmdir(parent)
        except OSError:
            pass

    def result(self) -> dict:
        catalogue = PER_LAYER if self.trace else END_TO_END
        out = {}
        for name, unit, _ in catalogue:
            value = float(self.metrics.get(name, 0.0))
            out[name] = {"value": value, "unit": unit}
        return {"correct": self.failed == 0,
                "attempted": max(int(self.attempted), 1),
                "failed": int(self.failed), "metrics": out}

    def record(self, host: dict, result: dict):
        """Append this run's host telemetry and metrics to the run log."""
        os.makedirs(self.out_dir, exist_ok=True)
        line = {"run": self.run_id, "workload": self.workload, "seed": self.seed,
                "trace": self.trace, "host": host, "problems": self.problems[:20],
                "notes": self.notes,
                "all_metrics": self.metrics, "result": result}
        with open(os.path.join(self.out_dir, "runs.jsonl"), "a") as f:
            f.write(json.dumps(line, default=float) + "\n")
