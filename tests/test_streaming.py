"""Streaming tests: the batch twins must produce the same results when the
same transform runs under readStream (memory sink, drained synchronously)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.catalog.streaming import stream_stateful_totals
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
    sf = "/root/testdata/sf0.001"
    resharded = str(tmp_path / "resharded")
    load_table(spark, sf, "events").repartition(5).write.parquet(
        resharded + "/events.parquet"
    )
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
        STATE.invalidate()


# The persistent stream queries hold their running query in the session-state
# store (catalog._cache.STATE), one entry per stream name; these tests pin
# that contract on stream_stateful_totals.
TOTALS = "streaming.stateful_totals"


def _batch_totals(spark):
    """The batch twin of stream_stateful_totals, sorted."""
    rows = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint"),
            F.sum(F.round(F.col("value") * 100).try_cast("bigint")),
        )
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def _totals(session):
    rows = stream_stateful_totals(session, SF_DIR).collect()
    return sorted(tuple(r) for r in rows)


def _active(*sessions, tag="stateful_totals"):
    """The active store-held queries of ``sessions`` whose name holds ``tag``."""
    return [
        q
        for s in sessions
        for q in s.streams.active
        if q.name.startswith("stream_streaming_") and tag in q.name
    ]


def _concurrently(fn, args):
    """``[fn(a) for a in args]``, each call on its own thread."""
    out, errors = [None] * len(args), []

    def run(i):
        try:
            out[i] = fn(args[i])
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(i,), daemon=True)
        for i in range(len(args))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "a call never returned"
    if errors:
        raise errors[0]
    return out


@pytest.fixture
def starts(monkeypatch):
    """An empty store whose stream starts are recorded by entry name; every
    stream is stopped at the end."""
    STATE.invalidate()
    names: list[str] = []
    get = STATE.get

    def recording(name, spark, sf_dir, build):
        def start():
            names.append(name)
            return build()

        return get(name, spark, sf_dir, start)

    monkeypatch.setattr(STATE, "get", recording)
    yield names
    STATE.invalidate()


def test_cached_stream_reuses_running_query(spark, starts):
    """A repeated call from the same session drains the running query
    instead of paying full stream startup again."""
    t0 = time.perf_counter()
    first = _totals(spark)
    t_first = time.perf_counter() - t0
    t0 = time.perf_counter()
    second = _totals(spark)
    t_second = time.perf_counter() - t0
    assert second == first == _batch_totals(spark)
    assert starts == [TOTALS] and len(_active(spark)) == 1
    assert t_second < 0.5 * t_first, (t_first, t_second)


def test_concurrent_first_calls_start_one_stream(spark, starts):
    """Four threads of one session miss together: one starts the query
    under the name's lock, and every call returns the drained rows."""
    assert _concurrently(_totals, [spark] * 4) == [_batch_totals(spark)] * 4
    assert starts == [TOTALS] and len(_active(spark)) == 1


def test_sibling_call_displaces_the_running_stream(spark, starts):
    """The memory sink is a temp view of the session that started the
    query, so a sibling's call starts its own query and stops the one it
    displaces: one running query per stream name across the sessions."""
    sib = spark.newSession()
    want = _batch_totals(spark)
    assert _totals(spark) == want
    [q] = _active(spark)
    assert _totals(sib) == want
    assert not q.isActive
    assert _active(spark) == [] and len(_active(sib)) == 1
    assert starts == [TOTALS, TOTALS]


def test_concurrent_siblings_get_full_rows(spark, starts):
    """Sibling calls that displace each other still each return every row:
    a displacement waits for the drain in progress."""
    sessions = [spark.newSession(), spark.newSession()]
    assert _concurrently(_totals, sessions) == [_batch_totals(spark)] * 2
    assert len(_active(*sessions)) == 1


def test_stopped_stream_restarts_on_next_call(spark, starts):
    """A held query that is no longer active (stopped from outside here)
    is a miss: the next call starts the stream again."""
    want = _totals(spark)
    [q] = _active(spark)
    q.stop()
    assert _totals(spark) == want == _batch_totals(spark)
    assert starts == [TOTALS, TOTALS] and len(_active(spark)) == 1


def test_invalidate_stops_every_stream(spark, starts):
    """``STATE.invalidate()`` stops the running queries with the rest of
    the store, in every session, so none runs into JVM teardown."""
    from nyc_taxi_pyspark_spark.catalog.streaming import stream_ewma_monitor

    sib = spark.newSession()
    _totals(spark)
    stream_ewma_monitor(sib, SF_DIR).collect()
    assert len(_active(spark)) == 1 and len(_active(sib, tag="ewma")) == 1
    STATE.invalidate()
    assert _active(spark, sib, tag="") == []


def test_state_checkpoint_dir_is_removed_at_exit(tmp_path):
    """The state-inspect checkpoint is named by the application id, so no
    later process reads it: the process that made it removes it at exit
    instead of leaving one directory per run in the temp dir."""
    code = (
        "import types\n"
        "from nyc_taxi_pyspark_spark.streaming.state_inspect import"
        " state_checkpoint_dir\n"
        "sc = types.SimpleNamespace(applicationId='app-exit')\n"
        "d = state_checkpoint_dir(types.SimpleNamespace(sparkContext=sc), '/x')\n"
        "open(d + '/probe', 'w').close()\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
    )
    d = out.stdout.strip()
    assert os.path.dirname(d) == str(tmp_path)
    assert not os.path.exists(d)


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
