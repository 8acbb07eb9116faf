"""Py4J round-trip budgets for building similarity queries.

Every PySpark Column operator is one Py4J round trip to the driver JVM, so
the number of ``ClientServerConnection.send_command`` calls a builder makes
is its plan-construction cost. Unlike wall time it is deterministic: only
calls from the building thread are counted (py4j's finalizer thread sends
object releases whenever Python's GC runs), and no timing is asserted.
The similarity kernels emit each expression as one ``F.expr``
(operators/similarity.py); these budgets fail if a kernel goes back to
building a Column per vector component, hyperplane or centroid.
"""

from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402

import nyc_taxi_pyspark_spark.catalog.similarity as similarity  # noqa: E402
from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

SIMILARITY_QUERIES = sorted(
    n for n, fn in QUERIES.items() if fn.__module__ == similarity.__name__
)


@contextmanager
def py4j_calls(monkeypatch):
    """Count the Py4J commands this thread sends inside the block."""
    me = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        yield sent


def test_cosine_topk_build_budget(spark, monkeypatch):
    """``embed_cosine_topk`` builds its bucketed layout in a fresh session
    within 150 calls and reuses it within 100 (6,011 and 1,329 when every
    vector component was its own Column)."""
    build = QUERIES["embed_cosine_topk"]
    build(spark, SF_DIR)  # the process-wide query vector is fetched once
    fresh_session = spark.newSession()
    with py4j_calls(monkeypatch) as fresh:
        build(fresh_session, SF_DIR)
    with py4j_calls(monkeypatch) as reused:
        build(fresh_session, SF_DIR)
    assert 0 < fresh[0] <= 150, fresh[0]
    assert 0 < reused[0] <= 100, reused[0]


def test_similarity_catalog_warm_build_budget(spark, monkeypatch):
    """One warm build of every similarity query (layouts and scalars already
    in the session store) stays within 32,000 calls in total — 138,984
    with Column-built kernels, 53,569 of them in ``embed_ann_near_recall``
    alone."""
    assert len(SIMILARITY_QUERIES) == 32
    for name in SIMILARITY_QUERIES:
        QUERIES[name](spark, SF_DIR)
    per_query = {}
    for name in SIMILARITY_QUERIES:
        with py4j_calls(monkeypatch) as sent:
            QUERIES[name](spark, SF_DIR)
        per_query[name] = sent[0]
    assert all(per_query.values()), per_query
    assert sum(per_query.values()) <= 32_000, per_query
