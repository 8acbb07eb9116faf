"""Sibling-session gate over the catalog queries that read session state.

Sessions from ``newSession()`` share one SparkContext and one CacheManager.
A layout is persisted once, by the first session that builds it (the
entry's anchor, catalog._cache); a sibling builds its own frame, which the
CacheManager serves from the anchor's blocks. Each query runs in session A
(4 shuffle partitions), then in sibling B (3 shuffle partitions), whose
second call is only built:

- B's rows equal A's;
- every layout handle B's second call gets plans over an
  ``InMemoryRelation``, so it is read from the CacheManager rather than
  recomputed;
- B's handles are never persisted, except for the two layouts B rebuilds
  by design (``EXCEPTIONS``), whose frames displace the anchor;
- outside those, B's first run materializes no layout: it adds no cached
  RDD (a ``localCheckpoint`` cut, which a query may add on every run, is
  not a layout).

The store-reading queries are found by wrapping ``STATE.get`` while A
builds each query, not from a hand-written list: every catalog query is a
case, and one that reads no entry is skipped (64 read one, the three
``taxi_kpi_*`` queries among them). The three persistent stream queries
hold a running query, which is bound to its session like a scalar: B's
first call stops A's query and starts its own, and B's second call drains
it.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from nyc_taxi_pyspark_spark.catalog._cache import STATE  # noqa: E402
from scripts.check_parity import canon  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

# Layouts a sibling rebuilds by design: their connected components are cut
# through localCheckpoint, so every build's plan holds a fresh LogicalRDD
# that never matches the anchor's, and the sibling's frame displaces it.
EXCEPTIONS = {"text.dup_cc", "similarity.sem_cc"}
EXCEPTION_READERS = {
    "text_dup_clusters",
    "text_dedup_survivor_weights",
    "text_dedup_rate_by_source",
    "embed_semantic_dedup",
}

NAMES = sorted(QUERIES)


@contextmanager
def _reads():
    """Record every ``STATE.get`` entry name and the value it returned."""
    seen: dict[str, object] = {}
    get = STATE.get

    def recording(name, spark, sf_dir, build):
        seen[name] = value = get(name, spark, sf_dir, build)
        return value

    STATE.get = recording
    try:
        yield seen
    finally:
        del STATE.get


def _cached_rdd_ids(spark) -> set[int]:
    """Cached RDDs other than ``localCheckpoint`` cuts, which a query that
    cuts its own lineage adds on every run (and the ContextCleaner drops
    whenever the JVM collects them)."""
    jsc = spark.sparkContext._jsc
    cuts = {i for i, rdd in jsc.getPersistentRDDs().items() if rdd.rdd().isCheckpointed()}
    cached = {i.id() for i in jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0}
    return cached - cuts


def _in_cache_manager(df) -> bool:
    plan = df._jdf.queryExecution().withCachedData().toString()
    return "InMemoryRelation" in plan


def _run(fn, session) -> tuple[list, set[int]]:
    """The query's rows in ``session`` and the cached RDDs that appeared
    while building and computing them."""
    before = _cached_rdd_ids(session)
    rows = canon(fn(session, SF_DIR).toPandas())
    return rows, _cached_rdd_ids(session) - before


@pytest.mark.parametrize("name", NAMES)
def test_sibling_reuse_is_cached_and_identical(spark, name):
    fn = QUERIES[name]
    a, b = spark.newSession(), spark.newSession()
    a.conf.set("spark.sql.shuffle.partitions", "4")
    b.conf.set("spark.sql.shuffle.partitions", "3")
    STATE.invalidate()  # A builds and anchors every layout it reads
    try:
        with _reads() as reads:
            df_a = fn(a, SF_DIR)
        if not reads:
            pytest.skip("reads no session-state entry")
        rows_a = canon(df_a.toPandas())
        assert (name in EXCEPTION_READERS) == bool(EXCEPTIONS & reads.keys())

        rows_b, added = _run(fn, b)
        assert rows_b == rows_a
        with _reads() as handles:
            fn(b, SF_DIR)
        layouts = {n: v for n, v in handles.items() if isinstance(v, DataFrame)}
        assert all(v.sparkSession is b for v in layouts.values())
        assert [n for n, v in layouts.items() if not _in_cache_manager(v)] == []
        # a served handle is never persisted; an exception's frame displaced
        # the anchor and was persisted in its place
        assert {n for n, v in layouts.items() if v.is_cached} == EXCEPTIONS & layouts.keys()
        if name not in EXCEPTION_READERS:
            assert added == set()  # B materialized no layout of its own
    finally:
        STATE.invalidate()
