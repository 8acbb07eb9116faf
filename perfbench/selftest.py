#!/usr/bin/env python3
"""Seeded-fault self-test: a corrupted expected hash must show as failed
operations.

    python3 perfbench/selftest.py [--seed 7]

Copies expected.json with the hash of one cohort query (picked by the seed)
altered, runs catalog_batch against the copy and exits non-zero unless the
run reports ``correct: false`` with at least one failed operation.
"""

from __future__ import annotations

import argparse
import json
import random
import subprocess
import sys

from common import BENCH_DIR, COHORTS, EXPECTED_PATH, ROOT


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(EXPECTED_PATH, encoding="utf-8") as f:
        expected = json.load(f)
    victim = random.Random(args.seed).choice(COHORTS["catalog_batch"])
    entry = expected["queries"][victim]
    entry["sha256"] = "0" * 64 if entry["sha256"] else None
    if entry["sha256"] is None:
        entry["rows"] += 1
    work = ROOT / ".bench_run"
    work.mkdir(exist_ok=True)
    corrupted = work / "selftest-expected.json"
    corrupted.write_text(json.dumps(expected), encoding="utf-8")
    try:
        proc = subprocess.run(
            [
                sys.executable, str(BENCH_DIR / "run.py"),
                "--workload", "catalog_batch", "--seed", str(args.seed),
                "--seconds", "1", "--trace", "0", "--expected", str(corrupted),
            ],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
    finally:
        corrupted.unlink()
        try:
            work.rmdir()
        except OSError:
            pass
    if proc.returncode != 0:
        print(proc.stderr[-3000:], file=sys.stderr)
        print(f"selftest: run.py exited {proc.returncode}")
        return 1
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    ok = out["correct"] is False and out["failed"] >= 1
    print(
        f"selftest {'ok' if ok else 'FAILED'}: corrupted {victim}; "
        f"run reported correct={out['correct']} failed={out['failed']}/{out['attempted']}"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
