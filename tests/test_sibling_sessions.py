"""Sibling-session gate over layout-backed catalog queries.

Sessions from ``newSession()`` share one SparkContext and one CacheManager
but key their own session state (catalog._cache). Each query runs once in
session A, then twice in sibling B: B's rows must equal A's, and B's reuse
must be served from the CacheManager — a layout that B's build left
uncached would be recomputed on every call while its handle still reads
as persisted.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from scripts.check_parity import canon  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

LAYOUT_QUERIES = [
    "text_near_dup_pairs",  # the MinHash-LSH pair layout itself
    "embed_cosine_topk",  # reads the bucketed-embeddings layout
    "tpch_q2_min_cost_supplier",  # reads the derived partsupp layout
]


def _in_cache_manager(df) -> bool:
    plan = df._jdf.queryExecution().withCachedData().toString()
    return "InMemoryRelation" in plan


@pytest.mark.parametrize("name", LAYOUT_QUERIES)
def test_sibling_reuse_is_cached_and_identical(spark, name):
    fn = QUERIES[name]
    a, b = spark.newSession(), spark.newSession()
    rows_a = canon(fn(a, SF_DIR).toPandas())
    fn(b, SF_DIR).toPandas()  # B's first call builds B's own layout
    again = fn(b, SF_DIR)
    assert _in_cache_manager(again)
    assert canon(again.toPandas()) == rows_a
