"""Shared pieces of the benchmark: paths, cohorts, result checks, statistics.

Every module here is importable without Spark; only the worker processes
(``batch.py``, ``server.py``) start a JVM.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import statistics
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "nyc_taxi_pyspark_spark"
# Copy of the repo's sf0.01 testdata (TESTDATA.md: TPC-H-ish star schema
# plus events, documents and embeddings): the inputs every cohort query and
# the console mix read. The seed never changes these tables, only the order
# of work and the uploaded CSV files.
DATA_DIR = BENCH_DIR / "data" / "sf0.01"
EXPECTED_PATH = BENCH_DIR / "expected.json"
PROTOCOL = "@@BENCH "

# The fixed operation list of the catalog_batch workload. Sized so one run
# (set-up, cold pass, timed window) stays under a minute on 4 cores even
# when the host is slow; NOTES.md records the sizing runs and the queries
# that did not fit.
NON_LAYOUT_QUERIES = [
    # scan, shuffle, join/aggregate and eager driver jobs; the Python boundary
    "tpch_q21_waiting_suppliers",
    "multimodal_features",
]
LAYOUT_QUERIES = [
    # backed by session-persisted layouts: bucketed embeddings and the
    # derived partsupp layout that the TPC-H Q2/Q11/Q16/Q20 family shares
    "embed_cosine_topk",
    "tpch_q2_min_cost_supplier",
]
COHORTS: dict[str, list[str]] = {"catalog_batch": NON_LAYOUT_QUERIES + LAYOUT_QUERIES}


def emit(kind: str, payload=None) -> None:
    """One protocol line from a worker to run.py on stdout."""
    line = PROTOCOL + kind
    if payload is not None:
        line += " " + json.dumps(payload)
    print(line, flush=True)


def check_checkout() -> None:
    """Fail unless the program's sources sit next to the benchmark."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(
            f"error: {PACKAGE}/ not found in {ROOT}; run from a checkout of the repo"
        )


def canon_rows(df) -> list[str]:
    """Order-insensitive canonical rows of a pandas frame.

    Same rules as ``canon()`` in scripts/check_parity.py (the repo's oracle
    gate), kept here so that the frozen hashes in expected.json cannot drift
    when that script changes."""
    import numpy as np
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, np.ndarray):
            v = list(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if pd.isna(v):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (pd.Timestamp, datetime.datetime)):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, datetime.date):
            return v.strftime("%Y-%m-%d 00:00:00.000000")
        return str(v)

    return sorted(
        "\x01".join(cell(v) for v in row) for row in df.itertuples(index=False)
    )


def result_digest(df) -> dict:
    rows = canon_rows(df)
    h = hashlib.sha256()
    h.update("\x02".join(sorted(df.columns)).encode())
    for r in rows:
        h.update(b"\x00")
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_expected(path: str | os.PathLike = EXPECTED_PATH) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)["queries"]


def matches(expected: dict, got: dict) -> bool:
    """A query with an oracle twin must match its hash; one without is
    checked by row count."""
    if expected.get("sha256") is not None:
        return expected["sha256"] == got["sha256"] and expected["rows"] == got["rows"]
    return expected["rows"] == got["rows"]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
