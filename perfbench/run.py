#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``catalog_batch`` (batch.py, one worker process) and
``serve_console`` (server.py in its own process, load from this process
through console.py). Every run gets a fresh directory
under ``.bench_run/`` that holds the workers' cwd, TMPDIR, SPARK_LOCAL_DIRS,
Spark warehouse and java.io.tmpdir; it is deleted at the end, and every
process the run started is stopped before exit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. NOTES.md says what each metric
measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import BENCH_DIR, COHORTS, EXPECTED_PATH, ROOT, check_checkout  # noqa: E402
from procs import Worker  # noqa: E402
from tracing import cpu_count  # noqa: E402

WORKLOADS = ("catalog_batch", "serve_console")
READY_TIMEOUT_S = 150
WORKER_TIMEOUT_S = 170
# Driver heap of every worker JVM. The engine's default (16g) is sized for
# sf0.1+ on a large host; the benchmark's sf0.01 inputs need far less. The
# heap starts at its full size (-Xms) so that peak_rss_mb does not depend on
# when G1 decides to grow it.
DRIVER_MEMORY = "2g"


def metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def hermetic_env(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    local = run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(local),
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf 'spark.driver.extraJavaOptions="
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}' "
                f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} pyspark-shell"
            ),
            "MPLCONFIGDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join([str(ROOT), str(BENCH_DIR)]),
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_batch(args, run_dir: Path, env: dict[str, str]) -> dict:
    argv = [
        sys.executable,
        str(BENCH_DIR / "batch.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--expected", str(args.expected),
    ]
    worker = Worker(argv, run_dir, env, "batch")
    try:
        _, t_ready = worker.expect("READY", READY_TIMEOUT_S)
        setup_s = t_ready - worker.t_start
        result, _ = worker.expect("RESULT", WORKER_TIMEOUT_S)
    except RuntimeError:
        print(worker.log_tail(), file=sys.stderr)
        raise
    finally:
        worker.stop()
    if not args.trace:
        result["metrics"]["setup_s"] = setup_s
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--expected",
        default=str(EXPECTED_PATH),
        help="frozen result hashes (selftest.py passes a corrupted copy)",
    )
    args = ap.parse_args(argv)
    check_checkout()

    run_dir = ROOT / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    try:
        env = hermetic_env(run_dir)
        if args.workload in COHORTS:
            result = run_batch(args, run_dir, env)
        else:
            from console import run_console

            result = run_console(args, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run is still using it

    if result.get("curve"):
        print("curve: " + json.dumps(result["curve"]), file=sys.stderr)
    if args.trace:
        missing = result.get("missing", [])
        if missing:
            print("missing trace targets: " + ", ".join(missing), file=sys.stderr)
        # a layer the workload does not exercise did no work: it reads 0
        values = result["layer"]
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in metric_units("per_layer").items()
        }
    else:
        metrics = {
            name: {"value": float(result["metrics"][name]), "unit": unit}
            for name, unit in metric_units("end_to_end").items()
        }
    out = {
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
