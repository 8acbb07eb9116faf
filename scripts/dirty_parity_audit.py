#!/usr/bin/env python
"""Dirty-data ORACLE-parity audit.

The driver's correctness gate and the builder's parity runs compare Spark
vs DuckDB on the GENERATED testdata, whose measures are clean — a query
can be hash-green there and still diverge cross-engine the day a 100 TB
crawl feeds it a NULL/NaN/Inf measure, an empty label, or a dangling key
(the round-11 advisor found exactly two such divergences, in
stats_mann_whitney and stats_ks_test). The no-crash degenerate sweep
(tests/test_degenerate_rows_sweep.py) proves nothing aborts on that data;
THIS audit goes further and runs the full check_parity comparison on the
same adversarial fixture, so NULL-handling asymmetries surface as
explicit per-query diffs instead of waiting for an advisor grep.

Expected-and-documented non-passes are triaged in _EXPECTED below; the
audit exits non-zero only on an UNEXPECTED divergence. Usage:

    python scripts/dirty_parity_audit.py [query ...]
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

# Documented non-passes on the adversarial fixture, with the contract that
# covers each. "fail" here means check_parity printed a non-pass line; the
# audit asserts the set of such queries is a subset of this dict's keys.
_EXPECTED: dict[str, str] = {
    # parameter-lookup ValueError contract (the sweep's _ALLOWED_ERRORS
    # class): the fixture's 1..N_CENTROIDS id range contains too few
    # finite vectors for this query's recall protocol. Other members of
    # the class (embed_ivf_cells/topk, pq_codes, kmeans_assign, ...) run
    # green on the current fixture; if the fixture shrinks its clean
    # vector set they may rejoin this list.
    "embed_ivf_recall": "no centroid vectors (ValueError contract)",
}


def main(only: list[str]) -> int:
    from test_degenerate_rows_sweep import write_degenerate_tables

    with tempfile.TemporaryDirectory(prefix="dirtysf_") as d:
        write_degenerate_tables(d)
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(_REPO, "scripts", "check_parity.py"),
                d,
                *only,
            ],
            capture_output=True,
            text=True,
            timeout=5400,
            env={**os.environ, "PYTHONPATH": _REPO},
        )
    lines = proc.stdout.splitlines()
    # a child crash mid-catalog would otherwise read as "every remaining
    # query passed" — require the final totals line
    if " fail, " not in (lines[-1] if lines else ""):
        print(proc.stdout[-3000:])
        print("--- audit: check_parity child DIED before finishing ---")
        print(proc.stderr[-3000:])
        return 2
    unexpected: list[str] = []
    expected_seen: list[str] = []
    for ln in lines:
        if ln.startswith("pass") or ln.startswith("SKIP") or not ln.strip():
            continue
        if not (ln.startswith("FAIL") or ln.startswith("fail")):
            continue
        name = ln.split()[1].rstrip(":")
        if name in _EXPECTED:
            expected_seen.append(f"{name}: {_EXPECTED[name]}")
        else:
            unexpected.append(ln)
    print(proc.stdout[-4000:])
    print(f"--- audit: {len(expected_seen)} documented non-passes ---")
    for e in expected_seen:
        print("  documented:", e)
    if unexpected:
        print(f"--- audit: {len(unexpected)} UNEXPECTED divergences ---")
        for u in unexpected:
            print("  UNEXPECTED:", u)
        return 1
    print("--- audit: no unexpected cross-engine divergences on dirty data ---")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
