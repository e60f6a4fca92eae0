"""Tests of the benchmark itself: helpers, seeded inputs, the metric
catalogue, and the tiny-size self-check of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import common  # noqa: E402
import datagen  # noqa: E402
import loadgen  # noqa: E402
import spans  # noqa: E402


def test_percentiles():
    assert common.pct([], 50) == 0.0
    assert common.pct([3, 1, 2], 50) == 2
    assert common.pct(range(101), 95) == 95
    assert common.median([4, 1, 3, 2]) == 2.5


def test_union_length_merges_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10)], 2, 4) == 2
    assert spans.union_length([]) == 0


def test_self_time_subtracts_children():
    t = spans.Tracer("r")
    parent = t.add("p", 0.0, 10.0)
    t.add("c", 1.0, 4.0, parent)
    t.add("c", 3.0, 5.0, parent)
    assert spans.self_time(t, t.spans[parent]) == 6.0


def test_tracer_dump_creates_its_directory(tmp_path):
    t = spans.Tracer("r")
    t.add("p", 0.0, 1.0)
    path = tmp_path / "out" / "trace.jsonl"
    t.dump(str(path), extra=[{"name": "x"}])
    assert [json.loads(x)["name"] for x in path.read_text().splitlines()] == ["p", "x"]


def test_compare_ignores_order_and_float_rounding():
    a = [(1, 0.1 + 0.2, "x"), (2, 1.0, None)]
    b = [(1.0, "y"), (0.30000000000000004, "x")]
    cols_a, cols_b = ["k", "v", "s"], ["v", "s"]
    assert checks.compare(a, cols_a, b, cols_b) is not None  # columns differ
    b = [(2, 1.0, None), (1, 0.3, "x")]
    assert checks.compare(a, cols_a, b, cols_a) is None
    b = [(2, 1.0, None), (1, 0.31, "x")]
    assert "differing" in checks.compare(a, cols_a, b, cols_a)
    assert "row count" in checks.compare(a, cols_a, b[:1], cols_a)


def test_datagen_is_seeded(tmp_path):
    sizes = datagen.generate(str(tmp_path / "a"), 5, 0.001)
    datagen.generate(str(tmp_path / "b"), 5, 0.001)
    datagen.generate(str(tmp_path / "c"), 6, 0.001)
    assert sizes["lineitem"] > sizes["orders"] > 0
    for name in sizes:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    other = pq.read_table(tmp_path / "c" / "orders.parquet")
    assert not other.equals(pq.read_table(tmp_path / "a" / "orders.parquet"))


def test_plan_phases_duplicates_and_late():
    phases = [(0.0, 2.0, 0, 0.2, 0.0), (2.0, 2.0, 10**9, 0.2, 0.5)]
    posts = list(loadgen.plan_posts(100.0, phases, 500, 10, 7, late_ms=60_000))
    assert posts == list(loadgen.plan_posts(100.0, phases, 500, 10, 7, 60_000))
    msgs = [m for _, ms in posts for m in ms]
    ids = [m["id"] for m in msgs]
    assert len(ids) > len(set(ids))  # duplicates are resent
    warm = [m for m in msgs if m["id"] < 10**9]
    assert len({m["id"] for m in warm}) == 1000
    assert all(m["ts"] == loadgen.iso_ms(m["created_ms"]) for m in warm)
    fixed = [m for m in msgs if 10**9 <= m["id"] < 2 * 10**9]
    assert any(m["ts"] == loadgen.iso_ms(m["created_ms"] - 60_000) for m in fixed)


def test_expected_tallies_count_each_on_time_id_once():
    import stream

    phases = [(0.0, 1.0, 0, 0.3, 0.0), (1.0, 1.0, 10**9, 0.3, 0.3)]
    posts = list(loadgen.plan_posts(50.0, phases, 400, 10, 3, 60_000))
    by_city, extra = stream.expected_tallies(posts, lambda k: True)
    on_time = {m["id"] for _, ms in posts for m in ms
               if m["ts"] == loadgen.iso_ms(m["created_ms"])}
    late = {m["id"] for _, ms in posts for m in ms} - on_time
    assert late and not extra["late_ids"].get(0)
    assert sum(by_city.values()) == len(on_time) == sum(extra["windows"].values())
    assert extra["ids"][0] | extra["ids"][1] == on_time
    assert extra["late_ids"][1] == late == set().union(*extra["late_ids"].values())
    assert sum(extra["late_windows"].values()) == len(late)


def test_result_latency_counts_from_the_trigger_that_wrote(tmp_path):
    import types

    import pyarrow as pa
    import stream

    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"id": [5, 10**9 + 1, 10**9 + 2]}), a)  # one warm-up id
    pq.write_table(pa.table({"id": [10**9 + 3]}), b)
    pipe = types.SimpleNamespace(batches=[(11.5, [a]), (14.0, [b]), (20.0, [b])])
    assert stream.result_latencies(pipe, [9.0, 12.0], 10.0, 15.0) == [2500.0, 2500.0, 2000.0]
    assert stream.result_latencies(pipe, [12.0], 10.0) == [2000.0, 8000.0]


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in common.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in common.PER_LAYER]
    import run

    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "registry_small",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_selfcheck_every_workload_tiny():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selfcheck"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stdout + p.stderr[-3000:]
    assert "SELFCHECK PASS" in p.stdout
