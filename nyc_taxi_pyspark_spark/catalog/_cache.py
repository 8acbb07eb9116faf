"""Per-session catalog state: persisted layouts and driver-side scalars.

Catalog queries that reuse a derived layout (bucketed embeddings, MinHash /
SimHash signature scans, candidate pair sets) persist it once per
(SparkSession, table dir) — locally a ``persist()``, at 100 TB a layout
written next to the table at ingest. Scalars derived from those layouts
(a row count, a split point, a codebook) live beside them under the same
key. Every entry is reached through the one module-level :data:`STATE`::

    STATE.get("text.pairs", spark, sf_dir, build)

Key. An entry is keyed by (SparkSession identity, applicationId, sf_dir).
The SESSION must be part of the key, not just the applicationId: a
DataFrame is bound to the session that built it, and sibling sessions from
``newSession()`` share one applicationId while holding separate SQL confs
and separate temp-view catalogs. Handing session A's cached frame to
session B silently runs B's query under A's shuffle-partition/AQE layout,
and ``createOrReplaceTempView`` on it registers the view in A's catalog
where B's ``spark.sql`` can never see it (the layout-invariance audit
caught exactly that in ``sql_dup_clusters_recursive``). Alternating
sibling sessions therefore rebuild rather than share.

Bounded storage. Each name holds ONE live entry; a call under a different
key displaces it. A value is persisted if and only if it is a DataFrame,
and a displaced DataFrame is unpersisted, so a stale applicationId (or a
switch to another table dir) can never pin dead blocks in a long-lived
multi-session process.

Unpersist BEFORE build. Sibling sessions share Spark's CacheManager, which
matches cached plans by result, not by session. When sibling B builds the
same plan that A's displaced entry holds, B's ``persist()`` is a no-op
(the plan is already cached), so unpersisting A's frame AFTER it would
drop the only cache entry and leave B's "cached" layout recomputed on
every use — while ``is_cached`` and ``storageLevel`` still read true.
The displaced frame is therefore unpersisted first, and only then is the
new one built and persisted.

Locking. One lock per name: the serving layer runs catalog queries from
concurrent request threads, and two simultaneous misses on one name would
double-build and leak the loser's persist. ``build()`` runs under its
name's lock — a duplicate build costs more than the serialization it
prevents — while other names build in parallel, and a build may read
another entry (syndication's graph reads the pair layout).

Staleness contract (tests/test_cache_lifecycle.py pins it): a layout has
the same semantics as Spark's own ``persist()`` because it IS one —
writes that go THROUGH the session are picked up automatically (Spark's
``InsertIntoHadoopFsRelation`` refreshes cached blocks by path), while a
mutation Spark cannot see (an external process rewriting the files) keeps
serving the materialized snapshot. That out-of-band case is deliberate:
the testdata dirs are read-only and a 100 TB ingest-time layout is
versioned with its table, so change detection would buy nothing and cost
a listing per call. External writers must call :meth:`SessionState.invalidate`
(or open a new session / new dir) before reading layout-backed queries.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


class _Entry:
    __slots__ = ("lock", "session", "key", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.session: SparkSession | None = None
        self.key: tuple[str, str] | None = None
        # key is None when empty: a cached None value (kcore's empty-graph
        # k) is still a hit
        self.value = None

    def drop(self) -> None:
        """Forget the value, unpersisting it if it is a DataFrame. Called
        with ``lock`` held."""
        value, self.session, self.key, self.value = self.value, None, None, None
        if isinstance(value, DataFrame):
            try:
                value.unpersist()
            except Py4JError:
                pass  # dead session: blocks are already gone


class SessionState:
    """Named per-session entries, one live value per name."""

    def __init__(self) -> None:
        self._entries: dict[str, _Entry] = {}
        self._lock = threading.Lock()  # guards _entries, not the builds

    def get(self, name: str, spark: SparkSession, sf_dir: str, build: Callable):
        with self._lock:
            entry = self._entries.setdefault(name, _Entry())
        key = (spark.sparkContext.applicationId, sf_dir)
        with entry.lock:
            if entry.key == key and entry.session is spark:
                return entry.value
            entry.drop()  # before build(): see the module docstring
            value = build()
            if isinstance(value, DataFrame):
                value = value.persist()
            entry.session, entry.key, entry.value = spark, key, value
            return value

    def invalidate(self) -> None:
        """Drop every entry so the next ``get`` rebuilds from the current
        table state — the escape hatch of the snapshot contract (module
        docstring) for in-place table mutation."""
        with self._lock:
            entries = list(self._entries.values())
        for entry in entries:  # one lock at a time: builds nest name locks
            with entry.lock:
                entry.drop()


STATE = SessionState()
