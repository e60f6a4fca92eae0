"""Layered benchmark of sql_flow_spark.

    python3 perfbench/run.py --workload registry_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. Each invocation runs one workload in
this fresh process and prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (common.py lists both). ``--selfcheck`` runs every
workload at a tiny size, once untraced and once traced, each in its
own process, and checks the result lines.

Scratch files live under ``.perfbench_run/`` and are removed after
every run; span dumps and a one-line-per-run log (host load, steal
and every metric) go to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("registry_small", "stream_window")
DRIVER_MEM = "1g"


def prepare_env(root: str, run_dir: str):
    """Host hygiene, set before anything imports pyspark or the package:
    one Spark thread per available core (the package defaults to 32),
    a driver heap well below host memory, the repository on the Python
    workers' path, and temp files inside the run directory."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    if root not in sys.path:
        sys.path.insert(0, root)
    import tempfile

    tempfile.tempdir = tmp


def run_workload(args, root: str) -> int:
    from common import Run, host_sample, host_window

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny,
              root, T_PROCESS)
    prepare_env(root, run.dir)
    h0 = host_sample()
    try:
        if args.workload == "registry_small":
            from registry import run_registry

            run_registry(run)
        else:
            from stream import run_stream

            run_stream(run)
    except Exception as e:  # noqa: BLE001 — report an aborted run as failed
        traceback.print_exc()
        run.fail(max(run.attempted, 1), f"run aborted: {e!r}"[:300])
    finally:
        run.stop_session()
        run.cleanup()
    result = run.result()
    host = host_window(h0, host_sample())
    run.record(host, result)
    print(json.dumps({"host": host, "problems": run.problems[:5]}), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


def selfcheck(root: str) -> int:
    """Every workload at a tiny size, untraced then traced, each in a
    fresh process; every result must be correct and complete."""
    from common import END_TO_END, PER_LAYER

    bad = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                want = {n for n, _, _ in (PER_LAYER if trace else END_TO_END)}
                ok = (p.returncode == 0 and res["correct"] and res["failed"] == 0
                      and set(res["metrics"]) == want)
            except (IndexError, ValueError, KeyError):
                res, ok = None, False
            bad += not ok
            print(f"{'ok ' if ok else 'BAD'} {workload} trace={trace} "
                  f"{time.time() - t0:.1f}s attempted={res and res['attempted']}")
            if not ok:
                print(p.stderr[-2000:])
    print("SELFCHECK", "PASS" if not bad else f"FAIL ({bad})")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-check size)")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sql_flow_spark", "__init__.py")):
        print("perfbench: run from the repository root (sql_flow_spark/ not found "
              f"under {root})", file=sys.stderr)
        return 2
    if args.selfcheck:
        return selfcheck(root)
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args, root)


if __name__ == "__main__":
    sys.exit(main())
