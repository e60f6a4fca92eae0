"""registry_small: a fixed set of relational registry keys run through
``QUERIES[k](spark, data_dir)`` and the noop sink.

Set-up generates the seeded tables, starts the session, runs a first
job, makes one untimed pass that collects every key and checks it
against its DuckDB oracle on the same tables, and one untimed noop pass.
The timed phase then repeats noop passes over the keys.

- ``workload.closed_loop_s`` (per layer): one pass assembled key by
  key, the sum over keys of each key's median time across the timed
  passes.
- ``latency_p50_ms``: each key's median query latency across the
  timed passes, from the builder call to the end of the noop write,
  combined over keys by their geometric mean. Every key counts with the
  same weight whatever its size, so a regression in any one key moves
  the number (a median over keys would ignore the slower half).
"""

from __future__ import annotations

import math
import os
import sys
import time

import datagen
from checks import compare, duck_connection
from common import RssSampler, Run, median
from spans import (QueryExecutionRecorder, Tracer, drain_listener_bus, engine_totals,
                   job_interval, jobs_in, self_time, status_store, union_length)

# Six keys from the four relational builder modules (core, analytics,
# tpch_extra, temporal): an aggregate, a dimension join, a Python UDF,
# a three-table and a six-table join, and a range join. Small inputs
# keep per-key fixed cost (table loads, plan building, Catalyst, stage
# scheduling) the dominant share of the time.
KEYS = (
    "basic_agg",
    "dim_join",
    "udf_parse_domain",
    "q3_shipping_priority",
    "q7_nation_volume",
    "range_join_attribution",
)
TINY_KEYS = ("basic_agg", "q1_pricing_summary", "range_join_attribution")
SF = 0.002
TINY_SF = 0.001
# The timed phase is round(--seconds / SECONDS_PER_PASS) passes (at
# least two): a fixed amount of work per run, so every run stops at the
# same point of the JIT warm-up curve.
SECONDS_PER_PASS = 5.0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def warm_engine(spark):
    """The session's first job (scheduler and code generation start-up);
    the untimed check pass then warms the keys' own paths."""
    spark.range(1000).selectExpr("sum(id)").collect()


def install_wrappers(tracer: Tracer):
    """Spans around QUERIES[k] and around every module's load_tables."""
    from sql_flow_spark.operators import QUERIES

    for k in list(QUERIES):
        QUERIES[k] = tracer.wrap("operators.build", QUERIES[k])
    for name, mod in list(sys.modules.items()):
        if name.startswith("sql_flow_spark") and callable(getattr(mod, "load_tables", None)):
            mod.load_tables = tracer.wrap("tables.load", mod.load_tables)


def check_pass(run: Run, spark, data_dir: str, keys):
    """Untimed pass: collect each key, compare with its oracle."""
    from sql_flow_spark.operators import ORACLES, QUERIES
    from sql_flow_spark.tables import TABLE_NAMES

    con = duck_connection(data_dir, TABLE_NAMES)
    try:
        for k in keys:
            run.attempted += 1
            try:
                df = QUERIES[k](spark, data_dir)
                rows, cols = [tuple(r) for r in df.collect()], df.columns
                res = con.execute(ORACLES[k])
                why = compare(rows, cols, res.fetchall(), [d[0] for d in res.description])
            except Exception as e:  # noqa: BLE001 — a failing key is a counted failure
                why = f"raised {e!r}"[:300]
            if why:
                run.fail(1, f"{k}: {why}")
    finally:
        con.close()


def timed_pass(run: Run, spark, data_dir: str, keys, tracer: Tracer | None):
    """One noop pass; returns (pass wall, {key: wall})."""
    from sql_flow_spark.operators import QUERIES

    times = {}
    t_pass = time.time()
    for k in keys:
        run.attempted += 1
        t0 = time.time()
        try:
            df = QUERIES[k](spark, data_dir)
            if tracer is not None and tracer.enabled:
                t_w = time.time()
                df.write.format("noop").mode("overwrite").save()
                t_end = time.time()
                tracer.add("engine.write", t_w, t_end, key=k,
                           build_analysis_ms=_analysis_ms(df))
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            run.fail(1, f"{k} (timed): {e!r}"[:300])
            continue
        times[k] = time.time() - t0
    return time.time() - t_pass, times


def _analysis_ms(df) -> float:
    """Analysis time already recorded on the builder's DataFrame (the
    tracker is read, nothing is planned again)."""
    phases = df._jdf.queryExecution().tracker().phases()
    if phases.contains("analysis"):
        return float(phases.apply("analysis").durationMs())
    return 0.0


def layer_metrics(run: Run, spark, tracer: Tracer, qe: QueryExecutionRecorder,
                  traced_windows, untraced_walls, traced_walls):
    drain_listener_bus(spark)
    jobs, stages = status_store(spark)
    n = max(len(traced_windows), 1)
    cores = spark.sparkContext.defaultParallelism
    m = run.metrics

    def within(spans):
        return [s for s in spans if any(a <= s["start"] and s["end"] <= b for a, b in traced_windows)]

    builds = within(tracer.named("operators.build"))
    loads = within(tracer.named("tables.load"))
    writes = within(tracer.named("engine.write"))
    load_win = [(s["start"], s["end"]) for s in loads]
    build_win = [(s["start"], s["end"]) for s in builds]
    schema_jobs = jobs_in(jobs, load_win)
    schema_ids = {j["jobId"] for j in schema_jobs}
    eager = [j for j in jobs_in(jobs, build_win) if j["jobId"] not in schema_ids]
    eager_s = union_length([job_interval(j) for j in eager])
    m["tables.load_s"] = sum(e - s for s, e in load_win) / n
    m["tables.load_calls"] = len(loads) / n
    m["tables.schema_jobs"] = len(schema_jobs) / n
    m["operators.build_s"] = sum(e - s for s, e in build_win) / n
    m["operators.eager_jobs"] = len(eager) / n
    m["operators.eager_s"] = eager_s / n
    # builder time outside its load_tables calls and its eager jobs
    m["operators.build_self_s"] = (sum(self_time(tracer, b) for b in builds) - eager_s) / n
    m["catalyst.build_analysis_ms"] = sum(s.get("build_analysis_ms", 0.0) for s in writes) / n

    write_win = [(s["start"], s["end"]) for s in writes]
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for ev in qe.events:
        ph = ev.get("phases") or {}
        first = min((p[0] for p in ph.values()), default=None)
        if first is None or not any(a - 0.002 <= first <= b for a, b in write_win):
            continue
        for name in phases:
            if name in ph:
                phases[name] += ph[name][2]
    for name, v in phases.items():
        m[f"catalyst.{name}_ms"] = v / n
    eng = engine_totals(jobs, stages, write_win, cores)
    for k, v in eng.items():
        m[k] = v if k in ("engine.core_util", "engine.stage_skew_max") else v / n

    covered = sum(union_length(build_win + write_win, a, b) for a, b in traced_windows)
    wall = sum(b - a for a, b in traced_windows)
    m["trace.unattributed_share"] = 1.0 - covered / wall if wall else 0.0
    base = median(untraced_walls)
    m["trace.overhead_pct"] = 100.0 * (median(traced_walls) - base) / base if base else 0.0
    tracer.dump(os.path.join(run.out_dir, f"trace_{run.run_id}.jsonl"),
                extra=[{"name": "qe", **e} for e in qe.events])


def run_registry(run: Run):
    keys = TINY_KEYS if run.tiny else KEYS
    data_dir = run.path("data")
    t0 = time.time()
    datagen.generate(data_dir, run.seed, TINY_SF if run.tiny else SF)
    run.notes["datagen_s"] = time.time() - t0
    spark = run.start_session()
    t0 = time.time()
    warm_engine(spark)
    run.metrics["session.warm_s"] = time.time() - t0
    t0 = time.time()
    check_pass(run, spark, data_dir, keys)
    run.notes["check_pass_s"] = time.time() - t0
    # One untimed noop pass. The first timed pass is still a little
    # slower than the later ones; a key's median over four passes does
    # not depend on its slowest pass.
    run.notes["warm_pass_s"] = timed_pass(run, spark, data_dir, keys, None)[0]

    tracer = qe = None
    if run.trace:
        tracer = Tracer(run.run_id)
        qe = QueryExecutionRecorder()
        install_wrappers(tracer)

    rss = RssSampler()
    rss.start()
    run.start_timed()
    per_key: dict[str, list[float]] = {k: [] for k in keys}
    traced_windows, traced_walls, untraced_walls = [], [], []
    for i in range(max(2, round(run.seconds / SECONDS_PER_PASS))):
        traced = tracer is not None and i % 2 == 1
        if tracer is not None:
            tracer.enabled = traced
            if traced:
                qe.register(spark)
        t_pass = time.time()
        wall, times = timed_pass(run, spark, data_dir, keys, tracer)
        if traced:
            drain_listener_bus(spark)
            qe.unregister(spark)
            traced_windows.append((t_pass, t_pass + wall))
            traced_walls.append(wall)
            continue
        untraced_walls.append(wall)
        for k, t in times.items():
            per_key[k].append(t)
    run.end_timed()
    run.metrics["process.peak_rss_mb"] = rss.stop()
    run.notes["rss_at_peak_mb"] = rss.peak_detail
    run.notes["timed_key_s"] = {k: [round(t, 4) for t in v] for k, v in per_key.items()}
    key_medians = [median(v) for v in per_key.values() if v]
    run.metrics["workload.closed_loop_s"] = sum(key_medians)
    run.metrics["latency_p50_ms"] = 1000.0 * geomean(key_medians)
    if tracer is not None:
        layer_metrics(run, spark, tracer, qe, traced_windows, untraced_walls, traced_walls)
