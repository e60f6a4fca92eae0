"""stream_window: a webhook-fed streaming pipeline with state.

A separate generator process (loadgen.py) POSTs HMAC-signed JSON lines
to ``WebhookSource``'s receiver at a fixed offered rate; the receiver
spools them and ``Pipeline`` streams the spool. The run has three
phases, each with its own id range:

1. warm-up traffic (ids from 0), part of set-up;
2. the timed fixed-rate phase (ids from 1e9), ``--seconds`` long;
3. a drain of a pre-spooled backlog (ids from 2e9) through a fresh
   copy of the same pipeline with an ``availableNow`` trigger.

The traffic has about 5% duplicate ids and 1% events a minute older
than the watermark; ``pipeline.dedupe`` keeps watermarked state, the
paper's row-preserving enrichment handler writes to a parquet
``FileSink``, and a managed 2-second tumbling-window table writes to
parquet. The generator sends 2000 msgs/s in five POSTs a second; the
receiver spools each POST as one file. Both live queries trigger every
3 seconds (``processing_time``). Measured alternatives, all noisier:

- the package's default trigger (the next micro-batch as soon as the
  previous one ends) keeps the four cores about 92% busy on per-trigger
  fixed cost, at 500 msgs/s as at 2000, so any CPU taken by the host
  stretches every trigger; ten runs spread 0.34 (IQR / median);
- with 20 POSTs a second as well, each trigger also spent 0.5-1.4 s
  listing and reading small spool files, triggers drifted from 4 s to
  1 s through the run, and ten runs spread 0.58.

End-to-end metrics:

- ``latency_p50_ms``: over every fixed-phase message written by the
  enrichment sink, the moment the sink write returned minus the start
  of the trigger that wrote it, so the wait for the next 3-second
  trigger is left out and the number moves one for one with the work
  each trigger does (offsets, batch planning, dedupe, handler, sink).
- ``workload.closed_loop_s`` (per layer): time of the backlog drain
  (as a rate, ``pipeline.drain_msgs_s``).
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime

import loadgen
from common import Run, RssSampler, median, pct
from spans import ProgressRecorder, Tracer, union_length

PHASE = 1_000_000_000
SECRET = "perfbench-secret"
SCHEMA = "id LONG, city STRING, created_ms LONG, ts TIMESTAMP"
# the paper's row-preserving enrichment (examples/enrich.yml)
ENRICH_SQL = (
    "SELECT *, named_struct('something', city) AS nested_city, 'extra' AS extra "
    "FROM batch"
)
WATERMARK = "5 seconds"
WINDOW = "2 seconds"
WINDOW_MS = 2000
LATE_MS = 60_000
# A window is emitted once the watermark (newest event time minus
# WATERMARK) passes its end and the next trigger runs; every window
# ending this long before the traffic stops must have been emitted.
WINDOW_SETTLE_S = 15.0
BACKLOG_FILE_LINES = 2000

# offered rate msgs/s, POSTs/s, warm-up s, drain backlog msgs, duplicate
# and late shares, live trigger interval
PARAMS = dict(rate=2000, post_hz=5, warm=20.0, backlog=40_000, dup=0.05, late=0.01,
              trigger="3 seconds")
TINY = dict(rate=200, post_hz=5, warm=3.0, backlog=2000)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Pipe:
    """One pipeline instance and what its sink wrote."""

    def __init__(self, run: Run, spool: str, tag: str):
        from sql_flow_spark import config as cfg
        from sql_flow_spark.handlers import InferredBatch
        from sql_flow_spark.pipeline import Pipeline
        from sql_flow_spark.sinks import FileSink
        from sql_flow_spark.sources import WebhookSource

        self.ckpt = run.path(f"ckpt-{tag}")
        self.out = run.path(f"out-{tag}")
        self.win_out = run.path(f"win-{tag}")
        self.batches: list[tuple[float, list[str]]] = []  # (return time, files written)
        self._file_rows: dict[str, int] = {}
        self.source = WebhookSource(hmac_secret=SECRET, spool_dir=spool, schema=SCHEMA)
        self.managed = [cfg.ManagedTableConf(
            name=f"city_windows_{tag}",
            tumbling_window=cfg.TumblingWindowConf(
                time_column="ts", duration=WINDOW, watermark_delay=WATERMARK,
                group_by=["city"],
                aggregates=["count(*) AS n", "max(created_ms) AS max_created"]),
            sink=cfg.SinkConf(type="files", path=self.win_out, format="parquet"))]
        sink = FileSink(self.out, format="parquet")
        self._capture(sink)
        dedupe = cfg.DedupeConf(keys=["id"], time_column="ts", watermark_delay=WATERMARK)
        self.pipeline = Pipeline(spark=run.spark, source=self.source,
                                 handler=InferredBatch(ENRICH_SQL), sink=sink, dedupe=dedupe)
        self.query = None

    def _capture(self, sink):
        """Record when each sink write returns and which files it wrote."""
        inner = sink.write_table

        def write_table(df):
            before = set(_parts(self.out))
            inner(df)
            t = time.time()
            self.batches.append((t, sorted(set(_parts(self.out)) - before)))

        sink.write_table = write_table

    def file_rows(self, path: str) -> int:
        """Row count of a written parquet file, read once and remembered."""
        if path not in self._file_rows:
            import pyarrow.parquet as pq

            self._file_rows[path] = pq.ParquetFile(path).metadata.num_rows
        return self._file_rows[path]

    def start(self, available_now: bool, processing_time: str | None = None):
        self.query = self.pipeline.start(available_now=available_now,
                                         checkpoint_dir=self.ckpt,
                                         processing_time=processing_time,
                                         managed_tables=self.managed)
        return self.query

    def trigger_starts(self) -> list[float]:
        """Start times of the main query's recent triggers (Spark keeps
        the last 100 progress reports)."""
        return sorted(_epoch(json.loads(pr.json)["timestamp"])
                      for pr in self.query.recentProgress)

    def queries(self):
        return [self.query] + list(getattr(self.query, "managed_queries", []))

    def stop(self):
        """Stop every query between triggers: interrupting a running
        foreachBatch call makes the stream thread die noisily."""
        for q in self.queries():
            if q is not None and q.isActive:
                _wait_for(lambda: not q.status["isTriggerActive"], timeout=10.0)
                q.stop()

    def exceptions(self) -> list[str]:
        return [str(q.exception()) for q in self.queries() if q is not None and q.exception()]


def _parts(d: str) -> list[str]:
    try:
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.startswith("part-") and f.endswith(".parquet")]
    except FileNotFoundError:
        return []


def _read_rows(files, columns) -> list[dict]:
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def _plan(run: Run, p: dict, start: float, phases):
    return loadgen.plan_posts(start, phases, p["rate"], p["post_hz"], run.seed, LATE_MS)


def expected_tallies(posts, accepted) -> tuple[Counter, dict]:
    """Tallies of distinct messages over accepted POSTs: per-(phase,
    city) counts of on-time messages, on-time and late ids per phase,
    and per-(window_start_ms, city) counts of on-time and late ones."""
    seen: set[int] = set()
    by_city: Counter = Counter()
    tally = {"ids": {}, "late_ids": {}, "windows": Counter(), "late_windows": Counter()}
    for k, (_, msgs) in enumerate(posts):
        if not accepted(k):
            continue
        for m in msgs:
            if m["id"] in seen:
                continue
            seen.add(m["id"])
            ts_ms = int(round(_epoch(m["ts"]) * 1000))
            phase = m["id"] // PHASE
            late = ts_ms != m["created_ms"]
            tally["late_ids" if late else "ids"].setdefault(phase, set()).add(m["id"])
            tally["late_windows" if late else "windows"][
                (ts_ms - ts_ms % WINDOW_MS, m["city"])] += 1
            if not late:
                by_city[(phase, m["city"])] += 1
    return by_city, tally


def spool_backlog(run: Run, p: dict, spool: str):
    """Write the drain backlog straight into a spool through
    ``WebhookSource.push`` (one file per BACKLOG_FILE_LINES messages)."""
    from sql_flow_spark.sources import WebhookSource

    src = WebhookSource(spool_dir=spool)
    n = p["backlog"]
    files = max(n // BACKLOG_FILE_LINES, 1)
    posts = list(_plan(run, dict(p, rate=n, post_hz=files), time.time() - 60.0,
                       [(0.0, 1.0, 2 * PHASE, p["dup"], 0.0)]))
    for _, msgs in posts:
        src.push([json.dumps(m) for m in msgs])
    return posts


def install_wrappers(tracer: Tracer):
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.sinks import FileSink

    InferredBatch.invoke = tracer.wrap("handlers.invoke", InferredBatch.invoke)
    FileSink.write_table = tracer.wrap("sinks.write", FileSink.write_table)


def check_output(run: Run, pipe: Pipe, expected, phases_checked, label: str,
                 closed_by_ms: int | None = None):
    """Compare what the sinks wrote with the tallies; count failures.

    The dedupe contract: every on-time message is written exactly once.
    Spark guarantees that data within the watermark delay is never
    dropped but does not guarantee that data later than the watermark
    is dropped, so a late message may be written, at most once, and
    may be counted in its window. Every emitted window must hold its
    on-time tally plus at most its late messages; with
    ``closed_by_ms``, every window ending by then must be emitted."""
    _, extra = expected
    rows = _read_rows([f for _, fs in pipe.batches for f in fs], ["id"])
    ids = Counter(r["id"] for r in rows)
    for phase in phases_checked:
        on_time = extra["ids"].get(phase, set())
        late = extra["late_ids"].get(phase, set())
        have = {i for i in ids if i // PHASE == phase}
        dups = sum(c - 1 for i, c in ids.items() if i // PHASE == phase)
        missing, unexpected = on_time - have, have - on_time - late
        run.notes[f"{label}_late_written_phase{phase}"] = len(have & late)
        run.fail(len(missing) + len(unexpected) + dups,
                 f"{label}: phase {phase} ids missing={len(missing)} "
                 f"unexpected={len(unexpected)} duplicated={dups}")
    got_w = Counter()
    for r in _read_rows(_parts(pipe.win_out), ["window_start", "city", "n"]):
        got_w[(int(r["window_start"].timestamp() * 1000), r["city"])] += r["n"]
    want_w, late_w = extra["windows"], extra["late_windows"]
    keys = set(got_w)
    if closed_by_ms is not None:
        keys |= {k for k in want_w if k[0] + WINDOW_MS <= closed_by_ms}
    off = sum(max(want_w[k] - got_w[k], got_w[k] - want_w[k] - late_w[k], 0) for k in keys)
    run.fail(off, f"{label}: window counts off by {off}")


def _processed(pipe: Pipe) -> int:
    """Rows the enrichment sink has written so far."""
    return sum(pipe.file_rows(f) for _, fs in pipe.batches for f in fs)


def result_latencies(pipe: Pipe, starts: list[float], t0: float,
                     t1: float | None = None) -> list[float]:
    """Latency (ms) of every fixed-phase result whose write returned in
    [t0, t1): write return minus the start of the trigger that wrote it
    (the latest trigger start before the return; triggers of one query
    never overlap)."""
    out = []
    for t_ret, payload in pipe.batches:
        k = bisect.bisect_right(starts, t_ret)
        if t_ret < t0 or (t1 is not None and t_ret >= t1) or not k:
            continue
        rows = _read_rows(payload, ["id"])
        n = sum(1 for r in rows if r["id"] // PHASE == 1)
        out.extend([1000.0 * (t_ret - starts[k - 1])] * n)
    return out


def run_stream(run: Run):
    p = dict(PARAMS, **(TINY if run.tiny else {}))
    spark = run.start_session()
    t0 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    run.metrics["session.warm_s"] = time.time() - t0

    tracer = progress = None
    if run.trace:
        tracer = Tracer(run.run_id)
        tracer.enabled = False
        install_wrappers(tracer)
        progress = ProgressRecorder()
        spark.streams.addListener(progress)

    live = Pipe(run, run.path("spool"), "live")
    receiver = live.source.start_server()
    rss = RssSampler()
    gen = None
    try:
        live.start(available_now=False, processing_time=p["trigger"])
        start = time.time() + 1.0
        warm, secs = p["warm"], run.seconds
        phases = [(0.0, warm, 0, p["dup"], 0.0), (warm, secs, PHASE, p["dup"], p["late"])]
        log_path = run.path("gen.json")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             "--url", receiver.url, "--secret", SECRET, "--start", repr(start),
             "--phases", loadgen.phase_arg(phases), "--rate", str(p["rate"]),
             "--post-hz", str(p["post_hz"]), "--seed", str(run.seed),
             "--late-ms", str(LATE_MS),
             "--log", log_path])
        rss.exclude.add(gen.pid)
        # the drain backlog is written while warm-up traffic flows
        backlog_spool = run.path("backlog")
        backlog_posts = spool_backlog(run, p, backlog_spool)
        backlog_expected = expected_tallies(backlog_posts, lambda k: True)
        n_backlog = sum(len(m) for _, m in backlog_posts)
        t_fixed = start + warm
        t_end = t_fixed + secs
        t_half = t_fixed + secs / 2.0
        _sleep_until(t_fixed)
        rss.start()
        run.start_timed()
        req0 = _receiver_counters(receiver)
        if tracer is not None:
            _sleep_until(t_half)
            tracer.enabled = True
        _sleep_until(t_end)
        run.end_timed()
        req1 = _receiver_counters(receiver)
        spool_files = len(os.listdir(live.source.spool_dir))
        gen.wait(timeout=60)
        with open(log_path) as f:
            gen_log = json.load(f)
        posts = list(_plan(run, p, start, phases))
        accepted = {k for k, row in enumerate(gen_log) if row[3] == 200}
        expected = expected_tallies(posts, lambda k: k in accepted or not posts[k][1])
        want = sum(expected[0].values())
        _wait_for(lambda: _processed(live) >= want, timeout=30.0)
        peak = rss.stop()
        run.notes["rss_at_peak_mb"] = rss.peak_detail
        live.stop()
        if tracer is not None:
            tracer.enabled = False
        errors = live.exceptions()
        run.fail(len(errors), f"live query failed: {errors[:1]}")
        lost_posts = [row for row in gen_log if row[3] not in (0, 200)]
        run.fail(sum(row[4] for row in lost_posts), f"{len(lost_posts)} POSTs refused")
        run.attempted += sum(len(m) for _, m in posts)
        check_output(run, live, expected, (0, 1), "live",
                     closed_by_ms=int((t_end - WINDOW_SETTLE_S) * 1000))

        starts = live.trigger_starts()
        lat = result_latencies(live, starts, t_fixed)
        run.notes["write_returns_s"] = [
            (round(t - t_fixed, 3), round(t - starts[k - 1], 3) if k else None)
            for t, _ in live.batches for k in [bisect.bisect_right(starts, t)]]
        run.metrics["latency_p50_ms"] = median(lat)
        run.metrics["process.peak_rss_mb"] = peak

        drain = Pipe(run, backlog_spool, "drain")
        t0 = time.time()
        drain.start(available_now=True)
        for q in drain.queries():
            q.awaitTermination()
        drain_s = time.time() - t0
        errors = drain.exceptions()
        run.fail(len(errors), f"drain failed: {errors[:1]}")
        run.attempted += n_backlog
        check_output(run, drain, backlog_expected, (2,), "drain")
        run.metrics["workload.closed_loop_s"] = drain_s

        if tracer is not None:
            layer_metrics(run, live, tracer, progress, gen_log, posts, expected,
                          (t_fixed, t_half, t_end), (req0, req1), spool_files,
                          n_backlog / drain_s, starts)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait(timeout=10)
        live.stop()
        live.source.stop_server()


def _sleep_until(t: float):
    while True:
        d = t - time.time()
        if d <= 0:
            return
        time.sleep(min(d, 0.2))


def _wait_for(cond, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(0.25)
    return cond()


def _receiver_counters(receiver) -> tuple[int, float]:
    with receiver._metrics_lock:
        return sum(receiver.request_count.values()), receiver.request_seconds


def layer_metrics(run: Run, live: Pipe, tracer: Tracer, progress: ProgressRecorder,
                  gen_log, posts, expected, times, req, spool_files, drain_rate, starts):
    """Per-layer numbers over the traced second half of the fixed phase
    (the first half, untraced, is the overhead baseline)."""
    t_fixed, t_half, t_end = times
    m = run.metrics
    main_id = str(live.query.id)
    managed_ids = {str(q.id) for q in live.queries()[1:]}

    def triggers(qids):
        out = []
        for pr in progress.progress:
            if pr["id"] not in qids:
                continue
            start = _epoch(pr["timestamp"])
            if t_half <= start < t_end:
                out.append((start, pr))
        return out

    main = triggers({main_id})
    data = [pr for _, pr in main if pr.get("numInputRows", 0) > 0]
    dur = [pr.get("durationMs", {}) for _, pr in main]
    m["pipeline.batches"] = len(data)
    m["pipeline.rows_per_batch_p50"] = median([pr["numInputRows"] for pr in data])
    trig = [d.get("triggerExecution", 0) for d in dur]
    m["pipeline.trigger_ms_p50"] = median(trig)
    m["pipeline.trigger_ms_p95"] = pct(trig, 95)
    for name, key in (("pipeline.query_planning_ms_p50", "queryPlanning"),
                      ("pipeline.add_batch_ms_p50", "addBatch"),
                      ("pipeline.wal_commit_ms_p50", "walCommit"),
                      ("pipeline.commit_offsets_ms_p50", "commitOffsets"),
                      ("sources.latest_offset_ms_p50", "latestOffset"),
                      ("sources.get_batch_ms_p50", "getBatch")):
        m[name] = median([d.get(key, 0) for d in dur])
    spans = [(s, s + d.get("triggerExecution", 0) / 1000.0) for (s, _), d in zip(main, dur)]
    wall = t_end - t_half
    busy = union_length(spans, t_half, t_end)
    m["pipeline.idle_share"] = 1.0 - busy / wall
    parts = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
             "commitOffsets")
    unattributed = sum(max(d.get("triggerExecution", 0) - sum(d.get(k, 0) for k in parts), 0)
                       for d in dur) / 1000.0
    m["trace.unattributed_share"] = unattributed / wall
    m["pipeline.drain_msgs_s"] = drain_rate

    m["handlers.invoke_ms_p50"] = 1000.0 * median(
        [s["end"] - s["start"] for s in tracer.named("handlers.invoke", t_half, t_end + 30)])
    writes = [1000.0 * (s["end"] - s["start"])
              for s in tracer.named("sinks.write", t_half, t_end + 30)]
    m["sinks.write_ms_p50"] = median(writes)
    m["sinks.write_ms_p95"] = pct(writes, 95)
    m["sinks.rows_written"] = sum(live.file_rows(f) for t, fs in live.batches
                                  if t_half <= t < t_end for f in fs)

    # state of every stateful operator: the main query's dedupe and the
    # managed table's dedupe and window aggregate
    win = triggers(managed_ids)
    ops = [op for _, pr in main + win for op in pr.get("stateOperators", [])]
    last = [op for trig in (main, win) if trig for op in trig[-1][1].get("stateOperators", [])]
    m["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    m["streaming.state_mem_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last)
    m["streaming.state_commit_ms_p50"] = median([op.get("commitTimeMs", 0) for op in ops])
    m["streaming.state_update_ms_p50"] = median([op.get("allUpdatesTimeMs", 0) for op in ops])
    m["streaming.rows_dropped_by_watermark"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for op in ops)
    m["streaming.window_trigger_ms_p50"] = median(
        [pr.get("durationMs", {}).get("triggerExecution", 0) for _, pr in win])

    fixed_posts = [row for row in gen_log if t_fixed <= row[0] < t_end]
    m["gen.msgs"] = sum(row[4] for row in fixed_posts)
    m["gen.lateness_p95_ms"] = pct([1000.0 * (row[1] - row[0]) for row in fixed_posts], 95)
    m["sources.webhook_request_ms_p50"] = median(
        [1000.0 * (row[2] - row[1]) for row in fixed_posts])
    (n0, s0), (n1, s1) = req
    m["sources.webhook_request_ms_mean"] = 1000.0 * (s1 - s0) / (n1 - n0) if n1 > n0 else 0.0
    m["sources.spool_files"] = spool_files
    # distinct on-time fixed-phase messages not yet written when the
    # offered load stopped
    due = sum(v for (phase, _), v in expected[0].items() if phase == 1)
    done_by_end = sum(_count_phase1(files) for t, files in live.batches if t < t_end)
    m["sources.backlog_end_msgs"] = max(due - done_by_end, 0)

    base = median(result_latencies(live, starts, t_fixed, t_half))
    traced = median(result_latencies(live, starts, t_half, t_end))
    m["trace.overhead_pct"] = 100.0 * (traced - base) / base if base else 0.0
    tracer.dump(os.path.join(run.out_dir, f"trace_{run.run_id}.jsonl"),
                extra=[{**pr, "name": "progress", "query": pr.get("name")}
                       for pr in progress.progress])


def _count_phase1(files) -> int:
    return sum(1 for r in _read_rows(files, ["id"]) if r["id"] // PHASE == 1)

