"""In-suite tripwire for the ANSI-mode invariance axis.

`scripts/layout_invariance_audit.py --ansi` proves the full catalog
returns bit-identical results with `spark.sql.ansi.enabled` on and off
(the off setting is every pre-4.0 cluster still in production); this
subset keeps the representative arithmetic-heavy shapes — exact-cents
folds, quantized similarity kernels, guarded divisions, overflow-prone
integer accumulations — pinned in the default suite. Each side builds
its layouts under its own conf; the off session also runs once right
after the on session, reading the layouts the on session persisted, and
must return the rows of its own build.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from nyc_taxi_pyspark_spark.catalog._cache import STATE  # noqa: E402
from scripts.layout_invariance_audit import canon_hash  # noqa: E402

SF = "/root/testdata/sf0.001"

SUBSET = [
    "pricing_summary",  # exact-cents multi-agg (the flagship fold)
    "text_minhash_signature",  # integer hash lanes (overflow-prone ops)
    "embed_cosine_topk",  # quantized dot-product fold
    "stats_mann_whitney",  # floor-cell quantization + rank arithmetic
    "sql_daily_kpis",  # FLOOR-idiom portable rounding
    "events_cusum_changepoint",  # undivided integer CUSUM argmax
]


@pytest.fixture(scope="module")
def sessions(spark):
    on = spark.newSession()
    on.conf.set("spark.sql.ansi.enabled", "true")
    off = spark.newSession()
    off.conf.set("spark.sql.ansi.enabled", "false")
    return on, off


def _own_build_hash(session, name) -> str:
    """Hash the query's result with every layout built in ``session``, so
    neither side reads a layout the other side persisted (catalog._cache)."""
    STATE.invalidate()
    return canon_hash(QUERIES[name](session, SF).toPandas())


@pytest.mark.parametrize("name", SUBSET)
def test_result_invariant_to_ansi_mode(sessions, name):
    on, off = sessions
    on_hash = _own_build_hash(on, name)
    # off right after on, store kept: off reads each layout on anchored
    # whose plan matches under off's conf, and builds the rest itself
    off_after_on = canon_hash(QUERIES[name](off, SF).toPandas())
    off_hash = _own_build_hash(off, name)
    assert on_hash == off_hash
    assert off_after_on == off_hash
