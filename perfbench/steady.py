#!/usr/bin/env python3
"""Steadiness check: run a workload with several seeds and print, for every
end-to-end metric, the median, the quartiles, the interquartile spread and
the max/min spread, each spread as a share of the median, beside the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload catalog_batch --runs 10 [--first-seed 1]

Runs are sequential, each a fresh ``run.py`` process with the
``run_seconds`` of BENCHMARK.json. The raw results go to ``--out`` (JSON)
when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from common import BENCH_DIR, ROOT


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [
            sys.executable, str(BENCH_DIR / "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        for line in proc.stderr.splitlines():
            if line.startswith("curve: "):
                out["curve"] = json.loads(line[len("curve: "):])
        out["wall_s"] = wall
        results.append(out)
        print(
            f"seed {seed} ({wall:.0f} s): correct={out['correct']} "
            f"failed={out['failed']}/{out['attempted']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
            flush=True,
        )
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(results, f, indent=1)

    print(f"\n{args.workload}: {len(results)} runs")
    print(f"{'metric':16} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} {'(max-min)/med':>14} {'bound':>6}")
    worst = 0.0
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        iqr = (q3 - q1) / med if med else float("inf")
        rng = (max(vals) - min(vals)) / med if med else float("inf")
        if name != "setup_s":
            worst = max(worst, iqr / bound)
        print(f"{name:16} {med:10.4g} {q1:10.4g} {q3:10.4g} {iqr:8.3f} {rng:14.3f} {bound:6.2f}")
    print(f"worst iqr/median as a share of its bound (setup_s aside): {worst:.2f}")
    print(f"all correct: {all(r['correct'] for r in results)}")
    walls = [r["wall_s"] for r in results]
    print(f"run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
