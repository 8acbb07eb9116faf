"""Session-state lifecycle (VERDICT r9 item 7).

The catalog's persisted layouts (the co-purchase graph, the MinHash/SimHash
signature layouts, IVF cells, the trigram postings) and the scalars derived
from them are all named entries of ``catalog._cache.STATE``, a
SessionState keyed by (applicationId, sf_dir). These tests pin the
documented contract on private SessionState instances: an entry is a
SNAPSHOT of the table at first use (same semantics as Spark's CACHE TABLE —
in-place file mutation is not detected), invalidate() is the explicit
escape hatch, switching sf_dir rebuilds without manual action, a sibling
session gets its own frame served from the first session's persisted
layout, and a persisted layout is really held by Spark's CacheManager.
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.catalog._cache import SessionState  # noqa: E402


def _write(spark, path: str, n: int) -> None:
    spark.range(n).withColumnRenamed("id", "k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _in_cache_manager(df) -> bool:
    """True when Spark substitutes a cached relation into ``df``'s plan.
    ``withCachedData`` is memoized per DataFrame, so probe a frame whose
    plan has not been executed before the state being checked. Unlike
    ``df.is_cached`` or ``df.storageLevel`` (flags on the Python handle),
    this reads the CacheManager that sibling sessions share."""
    plan = df._jdf.queryExecution().withCachedData().toString()
    return "InMemoryRelation" in plan


def _cached_rdds(spark) -> int:
    return sum(
        1
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    )


def test_same_session_writes_are_seen_through_the_cache(spark, tmp_path):
    """A write THROUGH this session refreshes Spark's cached blocks by
    path (InsertIntoHadoopFsRelation → refreshByPath), so the layout
    transparently re-materializes from the new files — with no rebuild
    of the Python-side entry."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    state = SessionState()
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(table)

    first = state.get("t", spark, str(tmp_path), build)
    assert first.count() == 3 and len(builds) == 1

    _write(spark, table, 5)  # same-session overwrite
    again = state.get("t", spark, str(tmp_path), build)
    assert len(builds) == 1  # python entry reused
    assert again.count() == 5  # Spark refreshed the cached blocks itself
    state.invalidate()


def test_out_of_band_mutation_follows_snapshot_contract(spark, tmp_path):
    """A mutation Spark does NOT see (external process writing the files
    directly) leaves the materialized blocks serving the snapshot — the
    documented contract — and invalidate() is the escape hatch."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    state = SessionState()
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(table)

    first = state.get("t", spark, str(tmp_path), build)
    assert first.count() == 3 and len(builds) == 1

    # out-of-band rewrite: no spark catalog refresh happens
    shutil.rmtree(table)
    os.makedirs(table)
    pq.write_table(
        pa.table({"k": pa.array(range(5), type=pa.int64())}),
        os.path.join(table, "part-0.parquet"),
    )
    again = state.get("t", spark, str(tmp_path), build)
    assert len(builds) == 1
    assert again.count() == 3  # materialized snapshot, stale BY CONTRACT

    # the documented escape hatch picks up the mutation
    state.invalidate()
    fresh = state.get("t", spark, str(tmp_path), build)
    assert len(builds) == 2
    assert fresh.count() == 5
    state.invalidate()


def test_dir_switch_rebuilds_and_displaces(spark, tmp_path):
    """A different sf_dir is a different key: rebuilds immediately and
    unpersists the displaced layout (single-live-entry discipline)."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(spark, a + "/t.parquet", 2)
    _write(spark, b + "/t.parquet", 7)
    state = SessionState()

    def read(d):
        return lambda: spark.read.parquet(d + "/t.parquet")

    da = state.get("t", spark, a, read(a))
    assert da.count() == 2 and _in_cache_manager(da)
    db = state.get("t", spark, b, read(b))
    assert db.count() == 7 and _in_cache_manager(db)
    assert not _in_cache_manager(read(a)())  # displaced entry unpersisted
    # switching back is also a rebuild (single entry, not an LRU)
    da2 = state.get("t", spark, a, read(a))
    assert da2 is not da and da2.count() == 2
    state.invalidate()


def test_sibling_session_rebuilds_in_its_own_session(spark, tmp_path):
    """Sibling sessions share an applicationId and the CacheManager but NOT
    temp-view catalogs or SQL confs. Handing session A's frame to session B
    would register B's temp views in A's catalog (the layout audit caught
    this in sql_dup_clusters_recursive) and run B's query under A's conf.
    A sibling call builds a frame bound to the sibling; the CacheManager
    serves its plan from A's blocks, so the build starts no job."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 4)
    state = SessionState()
    builds = []

    def build_on(sess):
        def build():
            builds.append(1)
            return sess.read.schema("k LONG").parquet(table)  # no inference job

        return build

    da = state.get("t", spark, str(tmp_path), build_on(spark))
    assert da.count() == 4 and len(builds) == 1
    n0 = _cached_rdds(spark)

    sib = spark.newSession()
    sc = spark.sparkContext
    sc.setJobGroup("sibling-build", "jobs started by the sibling's build")
    try:
        db = state.get("t", sib, str(tmp_path), build_on(sib))
        assert sc.statusTracker().getJobIdsForGroup("sibling-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(builds) == 2 and db.sparkSession is sib
    assert not db.is_cached  # the anchor owns the cache entry
    # the sibling's next call returns its handle without building
    assert state.get("t", sib, str(tmp_path), build_on(sib)) is db
    assert len(builds) == 2
    # the sibling's frame registers temp views in the SIBLING's catalog
    db.createOrReplaceTempView("__cache_sib_probe")
    assert sib.sql("SELECT COUNT(*) AS n FROM __cache_sib_probe").first().n == 4
    assert _cached_rdds(spark) == n0  # read from A's blocks
    # dropTempView uncaches every cached plan equal to the view's, so this
    # unpersists the anchor too: check the blocks before it
    sib.catalog.dropTempView("__cache_sib_probe")
    state.invalidate()


def test_sibling_switch_keeps_layout_in_cache_manager(spark, tmp_path):
    """Switching to a sibling keeps the one CacheManager entry the anchor
    owns: the sibling's frame is served by A's blocks, and switching back
    and forth materializes nothing new."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 6)
    state = SessionState()
    n0 = _cached_rdds(spark)

    da = state.get("t", spark, str(tmp_path), lambda: spark.read.parquet(table))
    assert da.count() == 6 and _in_cache_manager(da)

    sib = spark.newSession()
    db = state.get("t", sib, str(tmp_path), lambda: sib.read.parquet(table))
    assert db.count() == 6
    assert _in_cache_manager(db)
    assert _cached_rdds(spark) == n0 + 1  # A's blocks, read by both
    da2 = state.get("t", spark, str(tmp_path), lambda: spark.read.parquet(table))
    assert da2.count() == 6 and _in_cache_manager(da2)
    assert _cached_rdds(spark) == n0 + 1
    state.invalidate()


def test_sibling_with_another_plan_displaces_the_anchor(spark, tmp_path):
    """A sibling whose plan the CacheManager does not serve (here its build
    adds a filter) builds once, displaces the anchor and persists its own
    frame: one cached RDD is left, holding the sibling's rows."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 6)
    state = SessionState()
    n0 = _cached_rdds(spark)
    da = state.get("t", spark, str(tmp_path), lambda: spark.read.parquet(table))
    assert da.count() == 6 and _cached_rdds(spark) == n0 + 1

    sib = spark.newSession()
    builds = []

    def build():
        builds.append(1)
        return sib.read.parquet(table).filter("k > 1")

    db = state.get("t", sib, str(tmp_path), build)
    assert len(builds) == 1 and db.is_cached and db.sparkSession is sib
    assert db.count() == 4 and _in_cache_manager(db)
    assert _cached_rdds(spark) == n0 + 1  # A's blocks are gone
    assert not _in_cache_manager(spark.read.parquet(table))
    state.invalidate()


def test_sibling_frame_after_invalidate_is_not_served(spark, tmp_path):
    """invalidate() unpersists the anchor, so a sibling's new frame over
    the same plan is no longer served from the cache."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    state = SessionState()
    state.get("t", spark, str(tmp_path), lambda: spark.read.parquet(table)).count()
    sib = spark.newSession()
    db = state.get("t", sib, str(tmp_path), lambda: sib.read.parquet(table))
    assert db.count() == 3 and _in_cache_manager(db)

    state.invalidate()
    assert not _in_cache_manager(sib.read.parquet(table))


def test_concurrent_siblings_materialize_once(spark, tmp_path):
    """K sibling sessions in K request threads share one anchor: one cached
    RDD is materialized, and every thread counts the same rows."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 9)
    state = SessionState()
    n0 = _cached_rdds(spark)
    counts = []

    def worker():
        sess = spark.newSession()
        df = state.get("t", sess, str(tmp_path), lambda: sess.read.parquet(table))
        counts.append(df.count())

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert counts == [9] * 4
    assert _cached_rdds(spark) == n0 + 1
    state.invalidate()


def test_concurrent_misses_build_once(spark, tmp_path):
    """Two request threads missing simultaneously must not double-build:
    the loser's persist() would be displaced with no unpersist (a storage
    leak in a long-lived serving process). The name's lock serializes the
    build; the other threads see the fresh entry and reuse it."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 3)
    state = SessionState()
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.2)  # widen the race window
        return spark.read.parquet(table)

    results = []

    def worker():
        results.append(state.get("t", spark, str(tmp_path), build))

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(builds) == 1
    assert len(results) == 4 and all(r is results[0] for r in results)
    state.invalidate()


def test_build_reading_another_entry_does_not_deadlock():
    """Locks are per name: a build may read another entry (syndication's
    graph reads the pair layout) while other threads take the names in
    the other order. More threads than cores and a short switch interval;
    each name still builds once."""
    state = SessionState()
    s = _StubSpark()
    builds, results = [], []

    def inner():
        builds.append("inner")
        time.sleep(0.05)  # widen the window for a competing outer build
        return 20

    def outer():
        builds.append("outer")
        return state.get("inner", s, "/d", inner) + 1

    def worker(i):
        names = [("outer", outer), ("inner", inner)][:: 1 if i % 2 else -1]
        results.append({n: state.get(n, s, "/d", b) for n, b in names})

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert results == [{"outer": 21, "inner": 20}] * 8
    assert sorted(builds) == ["inner", "outer"]


def test_invalidate_is_safe_when_empty():
    SessionState().invalidate()  # no entry, no error


def test_invalidate_forgets_sniffed_timestamp_unit(tmp_path):
    """An out-of-band rewrite may flip events.ts between TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS) (the testdata has shipped both); after
    invalidate() the footer is sniffed again, or ts decodes 1000x off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.sources.io import _parquet_ts_is_nanos

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    assert _parquet_ts_is_nanos(path)

    pq.write_table(pa.table({"ts": ts.cast(pa.timestamp("us"))}), path)
    SessionState().invalidate()
    assert not _parquet_ts_is_nanos(path)


def test_invalidate_drops_layouts_and_scalars_together(spark, tmp_path):
    """One invalidate() is the whole external-writer escape hatch: it
    unpersists every layout and forgets every scalar."""
    table = str(tmp_path / "t.parquet")
    _write(spark, table, 5)
    state = SessionState()
    d = str(tmp_path)
    layout = state.get("layout", spark, d, lambda: spark.read.parquet(table))
    n = state.get("n", spark, d, layout.count)
    assert n == 5 and _in_cache_manager(layout)

    state.invalidate()
    assert not _in_cache_manager(spark.read.parquet(table))
    assert state.get("n", spark, d, lambda: "rebuilt") == "rebuilt"
    rebuilt = state.get("layout", spark, d, lambda: spark.read.parquet(table))
    assert rebuilt is not layout
    state.invalidate()


class _StubSpark:
    """Minimal stand-in: a scalar entry touches only
    sparkContext.applicationId and object identity."""

    class _Ctx:
        def __init__(self, app_id):
            self.applicationId = app_id

    def __init__(self, app_id="app-1"):
        self.sparkContext = self._Ctx(app_id)


def test_scalar_cache_follows_layout_lifecycle():
    """VERDICT r15 item 8: scalar entries (kcore's k, the Bloom split, the
    syndication node count) obey the SAME key/displacement/invalidate
    discipline as layouts — single live entry per name, rebuild on
    app/dir/session change, explicit invalidate, and a cached None
    (empty-input sentinel) never re-runs the build. Scalars are never
    persisted."""
    state = SessionState()
    calls = []

    def build(v):
        def _b():
            calls.append(v)
            return v

        return _b

    s1 = _StubSpark("app-1")
    assert state.get("k", s1, "/d1", build(41)) == 41
    assert state.get("k", s1, "/d1", build(99)) == 41  # hit, no rebuild
    assert calls == [41]
    # dir switch displaces the single entry
    assert state.get("k", s1, "/d2", build(42)) == 42
    # ...and switching back rebuilds (single-entry, bounded)
    assert state.get("k", s1, "/d1", build(43)) == 43
    # session identity is part of the key even with the same applicationId
    s1b = _StubSpark("app-1")
    assert state.get("k", s1b, "/d1", build(44)) == 44
    # invalidate is the external-writer escape hatch
    state.invalidate()
    assert state.get("k", s1b, "/d1", build(45)) == 45
    # a cached None (e.g. kcore's empty-graph k) is a value, not a miss
    s2 = _StubSpark("app-2")
    assert state.get("k", s2, "/d1", build(None)) is None
    assert state.get("k", s2, "/d1", build(46)) is None
    # names are independent entries under one key
    assert state.get("other", s2, "/d1", build(47)) == 47
    assert state.get("k", s2, "/d1", build(48)) is None
    assert calls == [41, 42, 43, 44, 45, None, 47]


def test_invalidate_drops_shared_query_vector_and_centroids(spark, tmp_path):
    """The similarity catalog's query vector and literal IVF centroids are
    process-wide shared entries of STATE. An out-of-band rewrite of
    ``embeddings`` keeps serving the snapshot until ``invalidate()``; after
    it both follow the new data (every embedding doubled here)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_taxi_pyspark_spark.catalog._cache import STATE
    from nyc_taxi_pyspark_spark.catalog.similarity import (
        _centroids,
        _query_vec_literal,
    )
    from tests.conftest import SF_DIR

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    os.chmod(sf, 0o755)
    cents, qvec = _centroids(spark, sf), _query_vec_literal(spark, sf)

    path = os.path.join(sf, "embeddings.parquet")
    table = pq.read_table(path)
    df = table.to_pandas()
    df["embedding"] = df["embedding"].map(lambda v: v * 2)  # float32: exact
    pq.write_table(pa.Table.from_pandas(df, schema=table.schema), path)
    assert _centroids(spark, sf) == cents  # snapshot until invalidated
    assert _query_vec_literal(spark, sf) == qvec

    STATE.invalidate()
    assert _centroids(spark, sf) == [(cid, [2 * x for x in v]) for cid, v in cents]
    assert _query_vec_literal(spark, sf) == [2 * x for x in qvec]
    STATE.invalidate()  # leave no entry keyed by the deleted tmp dir
