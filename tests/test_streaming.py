"""Streaming tests: the batch twins must produce the same results when the
same transform runs under readStream (memory sink, drained synchronously)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.schemas import TESTDATA_SCHEMAS
from nyc_taxi_pyspark_spark.sources.io import load_table
from nyc_taxi_pyspark_spark.streaming.runner import run_stream_once
from nyc_taxi_pyspark_spark.streaming.windows import (
    session_counts,
    tumbling_counts,
    with_watermark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Materialize the events table (unit-sniffed by load_table) as a
    µs-timestamp parquet dir that readStream can consume."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(d)
    return d


def test_stream_tumbling_equals_batch(spark, events_dir):
    batch = tumbling_counts(load_table(spark, SF_DIR, "events"))
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: tumbling_counts(with_watermark(s)),
        output_mode="complete",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s
    assert len(b) > 0


def test_stream_session_window_runs(spark, events_dir):
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: session_counts(with_watermark(s)),
        output_mode="complete",
    )
    batch = session_counts(load_table(spark, SF_DIR, "events"))
    assert streamed.count() == batch.count() > 0
    # streamed and batch session sets are identical
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s


def test_watermark_drops_late_data(spark):
    """Late-data semantics (§2.9): in append mode, an event arriving after
    the window's state has been evicted (watermark passed the window end at
    least one batch earlier) is DROPPED — the closed window's aggregate does
    not change. Micro-batches are forced with maxFilesPerTrigger=1. Note the
    one-batch lag: batch N runs with the watermark computed at the end of
    batch N-1, and state eviction happens at batch end — so the late event
    must arrive two batches after the watermark-advancing event (Spark only
    guarantees dropping data later than the watermark, it may still accept
    data while the window state lives)."""
    import time as _time

    import pandas as pd

    d = tempfile.mkdtemp(prefix="late_events_")

    def write_batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf, TESTDATA_SCHEMAS["events"])
        sdf.coalesce(1).write.mode("append").parquet(d)

    base = "2024-01-01 "
    # batch 0: the 10:00 window's on-time events + a 13:00 event that will
    # advance the watermark to 12:50 at batch end
    write_batch(
        [
            (1, base + "10:00:00", 1, "click", 1.0, "{}"),
            (2, base + "10:15:00", 1, "click", 1.0, "{}"),
            (3, base + "10:30:00", 2, "click", 1.0, "{}"),
            (4, base + "13:00:00", 2, "click", 1.0, "{}"),
        ]
    )
    _time.sleep(1.2)  # order file mtimes so triggers run in write order
    # batch 1 runs with watermark 12:50 > 11:00: the 10:00 window is
    # finalized (emitted with 3) and its state evicted at batch end
    write_batch([(5, base + "13:30:00", 2, "click", 1.0, "{}")])
    _time.sleep(1.2)
    # batch 2: a 10:45 straggler, now strictly later than the watermark and
    # with no live state — deterministically dropped
    write_batch([(6, base + "10:45:00", 1, "click", 1.0, "{}")])

    from nyc_taxi_pyspark_spark.streaming.windows import tumbling_counts

    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = tumbling_counts(with_watermark(stream, "10 minutes"))
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM late_test WHERE window_start = TIMESTAMP '2024-01-01 10:00:00'"
    ).collect()
    # the 10:00 window was finalized by batch 1's watermark with 3 events;
    # the late 10:45 event from batch 2 was dropped, not re-emitted
    assert len(rows) == 1
    assert rows[0].n_events == 3


def test_stream_dedup_equals_batch(spark, events_dir):
    from nyc_taxi_pyspark_spark.streaming.windows import dedup_keys

    batch = dedup_keys(load_table(spark, SF_DIR, "events"))
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: dedup_keys(with_watermark(s)),
        output_mode="append",
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_stream_interval_join_equals_batch(spark, events_dir):
    """The interval join must produce identical pairs under readStream
    (watermarks on BOTH sides bound the join state) and in batch."""
    import uuid

    from nyc_taxi_pyspark_spark.streaming.windows import interval_join

    ev = load_table(spark, SF_DIR, "events")
    batch = interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
    )

    def stream_side():
        return spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(
            events_dir
        )

    clicks = with_watermark(stream_side().filter(F.col("event_type") == "click"))
    errors = with_watermark(stream_side().filter(F.col("event_type") == "error"))
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        interval_join(clicks, errors)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in spark.table(name).collect()}
    assert b == s and len(b) > 0


def test_stream_static_enrich_equals_batch(spark, events_dir):
    """Stream-static broadcast join: append-mode, stateless — streamed
    output must equal the batch twin exactly."""
    from nyc_taxi_pyspark_spark.streaming.windows import enrich_static, severity_dim

    dim = severity_dim(spark)
    batch = enrich_static(load_table(spark, SF_DIR, "events"), dim)
    streamed = run_stream_once(
        spark,
        events_dir,
        TESTDATA_SCHEMAS["events"],
        lambda s: enrich_static(s, dim),
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_parquet_stream_dir_replaces_squatters_and_stale_links(tmp_path):
    import os

    from nyc_taxi_pyspark_spark.streaming.runner import parquet_stream_dir

    src = tmp_path / "events.parquet"
    src.write_bytes(b"PAR1fake")
    d = parquet_stream_dir(str(src))
    link = os.path.join(d, "events.parquet")
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # idempotent reuse: same dir, link untouched
    assert parquet_stream_dir(str(src)) == d

    # a plain FILE squatting at the link path is replaced, not streamed
    os.unlink(link)
    with open(link, "wb") as fh:
        fh.write(b"not a symlink")
    parquet_stream_dir(str(src))
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # a DANGLING symlink (regenerated source) is replaced too
    os.unlink(link)
    os.symlink(str(tmp_path / "gone.parquet"), link)
    parquet_stream_dir(str(src))
    assert os.path.realpath(link) == os.path.realpath(str(src))

    # stale link to a DIFFERENT real file is repointed
    other = tmp_path / "other.parquet"
    other.write_bytes(b"PAR1other")
    os.unlink(link)
    os.symlink(str(other), link)
    parquet_stream_dir(str(src))
    assert os.path.realpath(link) == os.path.realpath(str(src))


def test_parquet_stream_dir_directory_source(tmp_path):
    """A Spark-written table is a DIRECTORY of part files — the shape
    every real ingest produces. The stream dir must link each data file
    (Spark's file source does not recurse into a nested directory; the
    input-layout audit caught stream_stateful_totals returning an EMPTY
    stream on exactly this), skip _SUCCESS/markers, and prune part links
    that a regeneration removed."""
    import os

    from nyc_taxi_pyspark_spark.streaming.runner import parquet_stream_dir

    src = tmp_path / "events.parquet"
    src.mkdir()
    (src / "part-00000-aaa.parquet").write_bytes(b"PAR1a")
    (src / "part-00001-bbb.parquet").write_bytes(b"PAR1b")
    (src / "_SUCCESS").write_bytes(b"")
    (src / ".part-00002-ccc.parquet.crc").write_bytes(b"x")

    d = parquet_stream_dir(str(src))
    links = sorted(os.listdir(d))
    assert links == ["part-00000-aaa.parquet", "part-00001-bbb.parquet"]
    for n in links:
        p = os.path.join(d, n)
        assert os.path.islink(p)
        assert os.path.realpath(p) == os.path.realpath(str(src / n))

    # regeneration changes the part set: removed parts are pruned, new
    # parts linked — the stream never reads a stale mix
    os.unlink(src / "part-00001-bbb.parquet")
    (src / "part-00003-ddd.parquet").write_bytes(b"PAR1d")
    assert parquet_stream_dir(str(src)) == d
    assert sorted(os.listdir(d)) == [
        "part-00000-aaa.parquet",
        "part-00003-ddd.parquet",
    ]


def test_stateful_stream_matches_on_directory_table(spark, tmp_path):
    """End-to-end: the stateful streaming query must produce the same
    final states whether events is a single parquet file (driver
    testdata) or a Spark-written multi-file directory (every real
    table)."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.sources.io import load_table
    from nyc_taxi_pyspark_spark.streaming import runner

    sf = "/root/testdata/sf0.001"
    resharded = str(tmp_path / "resharded")
    load_table(spark, sf, "events").repartition(5).write.parquet(
        resharded + "/events.parquet"
    )
    before = set(runner._RUNNING)
    try:
        single = {
            tuple(r) for r in stream_stateful_totals(spark, sf).collect()
        }
        multi = {
            tuple(r)
            for r in stream_stateful_totals(spark, resharded).collect()
        }
        assert len(single) > 0
        assert single == multi
    finally:
        # unregister the streams this test started so the reuse-counting
        # test below still observes a cold first invocation
        for k in set(runner._RUNNING) - before:
            ent = runner._RUNNING.pop(k)
            try:
                if ent.q is not None:
                    ent.q.stop()
            except Exception:
                pass


def test_sibling_sessions_keep_their_own_tracked_streams(spark):
    """The memory sink's table is a temp view of the session that started
    the query, so the persistent-stream registry must key on the SESSION:
    before it did, a sibling session's lookup failed the table read,
    popped the entry and restarted — orphaning the first session's
    still-running query (active, untracked, processing forever in a
    long-lived multi-session server). Each session now keeps its own
    tracked stream and every active query stays tracked."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.streaming import runner

    sf = "/root/testdata/sf0.001"
    # a tracked stream for this source left by an earlier test would turn
    # the first call into a reuse and skew the two-new-entries count —
    # start cold regardless of test order
    for k in [k for k in runner._RUNNING if sf in str(k)]:
        ent = runner._RUNNING.pop(k)
        try:
            if ent.q is not None:
                ent.q.stop()
        except Exception:
            pass
    before = set(runner._RUNNING)
    sib = spark.newSession()
    try:
        a = {tuple(r) for r in stream_stateful_totals(spark, sf).collect()}
        b = {tuple(r) for r in stream_stateful_totals(sib, sf).collect()}
        assert a == b and len(a) > 0
        new = set(runner._RUNNING) - before
        assert len(new) == 2  # one tracked stream per session, no takeover
        tracked = {
            runner._RUNNING[k].q.id
            for k in runner._RUNNING
            if runner._RUNNING[k].q is not None
        }
        active = {q.id for q in spark.streams.active} | {
            q.id for q in sib.streams.active
        }
        assert active <= tracked  # nothing runs untracked
    finally:
        for k in set(runner._RUNNING) - before:
            ent = runner._RUNNING.pop(k)
            try:
                if ent.q is not None:
                    ent.q.stop()
            except Exception:
                pass


def test_cached_stream_reuses_running_query(spark):
    # second invocation must reuse the running stream (no full stream
    # startup): same rows, and the persistent-stream registry holds ONE
    # active query for the key
    import time as _time

    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.streaming import runner

    sf = "/root/testdata/sf0.001"
    before = len(runner._RUNNING)
    t0 = _time.perf_counter()
    first = stream_stateful_totals(spark, sf).collect()
    t_first = _time.perf_counter() - t0
    t0 = _time.perf_counter()
    second = stream_stateful_totals(spark, sf).collect()
    t_second = _time.perf_counter() - t0
    assert second == first and len(first) > 0
    assert len(runner._RUNNING) == before + 1  # reused, not restarted
    assert t_second < 0.5 * t_first, (t_first, t_second)


def test_stop_all_streams_drains_registry(spark):
    """stop_all_streams must stop and untrack every persistent stream the
    session owns — the pre-exit drain, so no memory-sink stream races
    JVM teardown (a stack trace at process exit otherwise)."""
    from nyc_taxi_pyspark_spark.catalog.streaming import (
        stream_stateful_totals,
    )
    from nyc_taxi_pyspark_spark.streaming import runner

    sf = "/root/testdata/sf0.001"
    rows = stream_stateful_totals(spark, sf).collect()
    assert len(rows) > 0
    assert any(k[0] is spark for k in runner._RUNNING)
    runner.stop_all_streams(spark)
    assert not any(k[0] is spark for k in runner._RUNNING)
    assert not spark.streams.active
    # idempotent on an already-drained session
    runner.stop_all_streams(spark)


def _fake_entry(runner, stopped):
    class _FakeQuery:
        def stop(self):
            stopped.append(True)

    ent = runner._StreamEntry()
    ent.q, ent.name = _FakeQuery(), "ghost_table"
    return ent


def test_dead_session_entries_are_evicted():
    """Registry entries whose owning session is DEFINITIVELY gone — the
    context object torn down entirely — must be swept (their queries
    STOPPED, not orphaned): a discarded session is never looked up again,
    so without the sweep its stream would run forever and the dict would
    grow unboundedly in a long-lived multi-session server."""
    from nyc_taxi_pyspark_spark.streaming import runner

    stopped = []

    class _DeadSession:  # no sparkContext at all -> definitive dead signal
        pass

    key = (_DeadSession(), "app-dead", "/nowhere", "t", "append")
    with runner._RUNNING_LOCK:
        runner._RUNNING[key] = _fake_entry(runner, stopped)
        popped = runner._pop_dead_sessions()
        assert key not in runner._RUNNING
        # the sweep must NOT stop queries while the global lock is held
        # (a slow JVM stop() would stall every registry access — ADVICE
        # r13); it hands the entries back for the caller to stop
        assert stopped == []
    for ent in popped:
        with ent.lock:
            if ent.q is not None:
                ent.q.stop()
    assert stopped == [True]


def test_transient_probe_failure_does_not_evict():
    """A transient error while PROBING a session (a py4j hiccup against a
    healthy session) must not stop its running query: eviction acts only
    on definitive dead signals, otherwise a concurrent thread of that
    session pays a full stream restart and the accumulated memory-sink
    state is lost (ADVICE r12)."""
    from nyc_taxi_pyspark_spark.streaming import runner

    stopped = []

    class _FlakySession:  # probe raises a non-definitive error
        @property
        def sparkContext(self):
            raise RuntimeError("py4j connection reset")

    key = (_FlakySession(), "app-flaky", "/nowhere", "t", "append")
    with runner._RUNNING_LOCK:
        runner._RUNNING[key] = _fake_entry(runner, stopped)
        popped = runner._pop_dead_sessions()
        assert popped == []
        assert key in runner._RUNNING  # left alone, query untouched
        runner._RUNNING.pop(key)
    assert stopped == []


def test_hung_drain_on_one_key_does_not_block_other_keys(spark, tmp_path):
    """The global registry lock covers bookkeeping only; drains run under
    per-key locks. A hung drain (simulated by holding one key's entry
    lock) must not block run_stream_cached on a DIFFERENT key — before
    the r13 restructure the single global lock serialized all keys and
    one stuck stream blocked every concurrent serving thread (ADVICE
    r12)."""
    import threading

    from nyc_taxi_pyspark_spark.sources.io import load_table
    from nyc_taxi_pyspark_spark.streaming import runner

    hung_key = ("sentinel-session", "app-x", "/hung", "t", "append")
    hung = runner._StreamEntry()
    with runner._RUNNING_LOCK:
        runner._RUNNING[hung_key] = hung

    src = str(tmp_path / "src")
    df = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    df.write.parquet(src)
    schema = df.schema

    result: list = []

    def other_key():
        out = runner.run_stream_cached(
            spark, src, schema, lambda d: d, key="independent"
        )
        result.append(out.count())

    hung.lock.acquire()  # the "stuck drain" on the sentinel key
    try:
        t = threading.Thread(target=other_key, daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "independent key blocked by a hung drain"
        assert result and result[0] == 100
    finally:
        hung.lock.release()
        with runner._RUNNING_LOCK:
            runner._RUNNING.pop(hung_key, None)
        runner.stop_all_streams(spark)


def test_start_after_pop_does_not_orphan_stream(spark, tmp_path):
    """If the registry entry is popped between insert and query start
    (stop_all_streams running in that window, or a sibling starter's
    failure-path pop), the SUCCESS path must not assign the query to the
    popped entry and leave it active-but-untracked forever (ADVICE r13
    medium): when the key is unclaimed it re-tracks the entry; when a
    fresh entry claimed the key it stops its own query (the drained
    memory sink still serves the call)."""
    from nyc_taxi_pyspark_spark.sources.io import load_table
    from nyc_taxi_pyspark_spark.streaming import runner

    src = str(tmp_path / "src")
    df = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    df.select("event_id", "event_type").write.parquet(src)
    schema = spark.read.parquet(src).schema
    active_before = {q.id for q in spark.streams.active}

    def _pop_my_key(tag):
        # simulate stop_all_streams' pop phase landing in the window
        # between registry insert and ent.lock / query start
        with runner._RUNNING_LOCK:
            for k in list(runner._RUNNING):
                if k[3] == tag:
                    return runner._RUNNING.pop(k)
        return None

    try:
        # case 1: key left unclaimed after the pop -> entry re-inserted,
        # stream stays tracked
        def transform_popped(s):
            _pop_my_key("popped")
            return s

        out = runner.run_stream_cached(
            spark, src, schema, transform_popped, key="popped"
        )
        assert out.count() == 50
        ents = [
            runner._RUNNING[k] for k in list(runner._RUNNING) if k[3] == "popped"
        ]
        assert len(ents) == 1 and ents[0].q is not None and ents[0].q.isActive

        # case 2: a fresh entry claimed the key while ours was popped ->
        # our just-started query is stopped, the fresh entry survives
        fresh = runner._StreamEntry()

        def transform_claimed(s):
            _pop_my_key("claimed")
            k = (
                spark,
                spark.sparkContext.applicationId,
                os.path.realpath(src),
                "claimed",
                "append",
            )
            with runner._RUNNING_LOCK:
                runner._RUNNING[k] = fresh
            return s

        out2 = runner.run_stream_cached(
            spark, src, schema, transform_claimed, key="claimed"
        )
        assert out2.count() == 50  # drained sink still serves this call
        ents2 = [
            runner._RUNNING[k]
            for k in list(runner._RUNNING)
            if k[3] == "claimed"
        ]
        assert ents2 == [fresh]  # fresh claimant not clobbered
        # no active query beyond the session's tracked ones: the query our
        # call started against the popped entry must have been stopped
        tracked = {
            e.q.id
            for e in runner._RUNNING.values()
            if e.q is not None and e.q.isActive
        }
        orphans = (
            {q.id for q in spark.streams.active} - active_before - tracked
        )
        assert not orphans
    finally:
        runner.stop_all_streams(spark)


def test_restart_from_checkpoint_no_reprocessing(spark, tmp_path):
    """Exactly-once across a stop/restart: a checkpointed foreachBatch sink
    is stopped mid-stream, new source files arrive, and the RESTARTED query
    (same checkpoint) must pick up only the unseen files — every source row
    lands in the output exactly once, none twice, under fresh epoch ids."""
    from nyc_taxi_pyspark_spark.streaming.sinks import (
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(TESTDATA_SCHEMAS["events"]).parquet(
            src
        )
        return write_stream_exactly_once(stream, out, ckpt)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count() > 0

    second.write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(out)
    assert final.count() == ev.count()  # nothing lost, NOTHING reprocessed
    assert final.select("event_id").distinct().count() == ev.count()


def test_transform_with_state_twin(spark, events_dir):
    """Spark 4 transformWithStateInPandas twin of the GroupState operator:
    same per-user totals. Requires protobuf (the state-server wire format)
    — absent in this container, so the test documents the gate by skipping
    rather than silently passing."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip(
            "protobuf not installed: transformWithStateInPandas cannot "
            "start its state server here (documented environment stub; "
            "semantics covered by the applyInPandasWithState twin)"
        )
    from pyspark.sql import types as T

    from nyc_taxi_pyspark_spark.streaming.stateful import running_totals_tws

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    streamed = run_stream_once(
        spark, events_dir, schema, running_totals_tws, output_mode="update"
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
    )
    final = (
        streamed.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value_cents")).alias("s"))
        .select("user_id", "s.n_events", "s.sum_value_cents")
    )
    assert {tuple(r) for r in final.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_stream_ewma_matches_batch_window(spark):
    """The stateful ring-buffer EWMA's final emission per user must equal
    the batch window form evaluated at that user's last event — including
    bit-exact doubles (dyadic weights)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyc_taxi_pyspark_spark.catalog.streaming import stream_ewma_monitor
    from nyc_taxi_pyspark_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["value"], r["ewma"], r["deviation"])
        for r in stream_ewma_monitor(spark, sf).collect()
    }

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", j).over(w) for j in range(1, 9)]
    num = lags[0] * 128
    for j, lg in enumerate(lags[1:], start=1):
        num = num + lg * (2 ** (7 - j))
    batch = (
        ev.select(
            "user_id",
            "value",
            (num / F.lit(255.0)).alias("ewma"),
            lags[7].alias("l8"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n_events"),
        )
        .filter((F.col("rn") == 1) & F.col("l8").isNotNull())
    )
    want = {
        r["user_id"]: (
            r["n_events"],
            r["value"],
            r["ewma"],
            r["value"] - r["ewma"],
        )
        for r in batch.collect()
    }
    assert got == want and len(got) > 0
