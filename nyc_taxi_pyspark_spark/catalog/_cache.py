"""Per-session catalog state: persisted layouts, driver-side scalars and
running streams.

Catalog queries that reuse a derived layout (bucketed embeddings, MinHash /
SimHash signature scans, candidate pair sets) persist it once per
(application, table dir) — locally a ``persist()``, at 100 TB a layout
written next to the table at ingest. Scalars derived from those layouts
(a row count, a split point, a codebook) live beside them under the same
key, and so do the running ``StreamingQuery`` objects of the persistent
stream queries (``streaming.runner.run_stream_cached``). Every entry is
reached through the one module-level :data:`STATE`::

    STATE.get("text.pairs", spark, sf_dir, build)

Plain driver data that does not depend on the session (the query vector
and the literal IVF centroids the similarity catalog inlines) is a shared
entry, keyed by sf_dir alone so a fresh session skips the point lookup::

    STATE.get_shared("similarity.centroids", sf_dir, build)

Key. An entry is keyed by (applicationId, sf_dir); a call under another
key displaces it. Sibling sessions from ``newSession()`` share the
applicationId and Spark's CacheManager, which matches cached plans by
result, not by session, so siblings share ONE persisted layout. They do
not share a handle: a DataFrame is bound to the session that built it,
and siblings hold separate SQL confs and temp-view catalogs. Session A's
frame in session B would run B's query under A's conf, and
``createOrReplaceTempView`` on it would register the view in A's catalog,
where B's ``spark.sql`` never sees it (the layout-invariance audit caught
exactly that in ``sql_dup_clusters_recursive``). So:

- The first session's persisted frame is the entry's ANCHOR, the only
  owner of the CacheManager entry.
- Any other session runs ``build()`` itself. If the CacheManager serves
  that plan (``storageLevel`` is not NONE: one lookup, no job), the
  unpersisted frame is the session's own handle: bound to it, seeing its
  temp views, reading the anchor's blocks.
- If it does not (the plan analyzes differently under that session's conf,
  or holds a fresh ``localCheckpoint``), the new frame displaces the
  anchor: the anchor is unpersisted and the new frame persisted. The plans
  differ, so unpersisting after the build cannot drop the new frame's
  cache entry, and one build suffices.
- The last (session, handle) pair is kept beside the anchor, so a
  session's repeated calls return its handle without planning again.

The anchor's plan is never rebound into another session, which would
carry A's analysis-time conf (ANSI eval modes baked into casts and
arithmetic) into B: the CacheManager decides what is shared. A scalar is
not shared: a call from another session rebuilds it and displaces it.

A running stream is bound to its session like a scalar (its memory-sink
table is a temp view of the session that started it), so a sibling's call
starts its own query and the displaced one is stopped: one running query
per name. Every ``get`` that returns a stream first drains it
(``processAllAvailable``), and a held query that is no longer active (it
failed, or was stopped from outside) is a miss and is started again.

Bounded storage. Each name holds ONE live entry, and only its anchor is
persisted; a sibling's handle is never persisted, so it has nothing to
unpersist. The anchor leaves (unpersisted, or stopped if it is a stream)
when the key changes, when a sibling's plan or call displaces it, or on
:meth:`SessionState.invalidate`, so a stale applicationId (or a switch to
another table dir) can never pin dead blocks or a running query in a
long-lived multi-session process.

Unpersist BEFORE build on a key change. Two keys can name one plan (a dir
with and without a trailing slash). Were the old anchor unpersisted after
the new build, the new ``persist()`` would have been a no-op on the
matching cached plan, and the unpersist would drop the only cache entry:
the new layout would be recomputed on every use while ``is_cached`` and
``storageLevel`` still read true.

Locking. One lock per name: the web server's ``/kpi`` route runs the taxi
KPI queries from concurrent request threads, and two simultaneous misses on
one name would double-build and leak the loser's persist (or its running
query). ``build()`` and a stream's drain run under the name's lock — a
duplicate build costs more than the serialization it prevents, and a
sibling's displacement cannot stop a query in the middle of another
caller's drain — while other names build in parallel, and a build may read
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
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from nyc_taxi_pyspark_spark.sources.io import _TS_UNIT_CACHE


class _Entry:
    __slots__ = ("lock", "key", "anchor", "session", "handle")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        # key is None when empty: a cached None value (kcore's empty-graph
        # k) is still a hit
        self.key: tuple | None = None
        self.anchor = None  # the value built first; owns the cache entry or the query
        self.session: SparkSession | None = None  # the last caller...
        self.handle = None  # ...and the value it got back

    def drop(self) -> None:
        """Forget the entry, unpersisting the anchor if it is a DataFrame and
        stopping it if it is a stream. Called with ``lock`` held."""
        anchor = self.anchor
        self.key = self.anchor = self.session = self.handle = None
        try:
            if isinstance(anchor, DataFrame):
                anchor.unpersist()
            elif isinstance(anchor, StreamingQuery):
                anchor.stop()
        except Py4JError:
            pass  # dead session: its blocks and queries are already gone

    def live(self) -> bool:
        """False for a held stream that is no longer running."""
        return not isinstance(self.handle, StreamingQuery) or self.handle.isActive

    def value(self):
        """The held value, a stream drained of all available input first.
        Called with ``lock`` held; a failed drain drops the entry."""
        if isinstance(self.handle, StreamingQuery):
            try:
                self.handle.processAllAvailable()
            except BaseException:
                self.drop()
                raise
        return self.handle


class SessionState:
    """Named entries, one live value per name; sibling sessions share a
    persisted layout through Spark's CacheManager."""

    def __init__(self) -> None:
        self._entries: dict[str, _Entry] = {}
        self._lock = threading.Lock()  # guards _entries, not the builds

    def get(self, name: str, spark: SparkSession, sf_dir: str, build: Callable):
        return self._get(name, spark, (spark.sparkContext.applicationId, sf_dir), build)

    def get_shared(self, name: str, sf_dir: str, build: Callable):
        """A process-wide driver value keyed by ``sf_dir`` alone and shared
        by every session: plain data read from a table (a query vector,
        literal centroids), which costs a Spark job to fetch and is the
        same in every session. Never a DataFrame — a frame is bound to the
        session that built it. One live value per name, and
        :meth:`invalidate` drops it like any other entry."""
        return self._get(name, None, (None, sf_dir), build)

    def _get(self, name: str, spark: SparkSession | None, key: tuple, build: Callable):
        with self._lock:
            entry = self._entries.setdefault(name, _Entry())
        with entry.lock:
            if entry.key == key and entry.session is spark and entry.live():
                return entry.value()
            if entry.key == key and isinstance(entry.anchor, DataFrame):
                value = build()  # a sibling: see "Key" in the module docstring
                if value.storageLevel != StorageLevel.NONE:
                    entry.session, entry.handle = spark, value
                    return value
                entry.drop()  # the plans differ: unpersisting after build() is safe
            else:
                entry.drop()  # before build(): see the module docstring
                value = build()
            if isinstance(value, DataFrame):
                if spark is None:
                    raise TypeError(f"{name}: a shared entry cannot hold a DataFrame")
                value = value.persist()
            entry.key, entry.anchor, entry.session, entry.handle = key, value, spark, value
            return entry.value()

    def invalidate(self) -> None:
        """Drop every entry so the next ``get`` rebuilds from the current
        table state — the escape hatch of the snapshot contract (module
        docstring) for in-place table mutation. The footer-sniffed timestamp
        units of ``sources.io`` are forgotten too: a rewrite may flip them."""
        with self._lock:
            entries = list(self._entries.values())
        for entry in entries:  # one lock at a time: builds nest name locks
            with entry.lock:
                entry.drop()
        _TS_UNIT_CACHE.clear()


STATE = SessionState()
