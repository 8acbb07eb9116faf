"""Event-time window queries (batch twins of the streaming module —
identical transforms run under readStream in streaming/runner; the batch
form is what the DuckDB oracle checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.functions.exact import oracle_dsum
from nyc_taxi_pyspark_spark.sources.io import load_table
from nyc_taxi_pyspark_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {oracle_dsum('value', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time windows per event type."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding_window",
    oracle=f"""
    SELECT window_start, COUNT(*) AS n_events, {oracle_dsum('value', 2)} AS sum_value
    FROM (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour', value FROM events
    )
    GROUP BY 1
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Sliding 2-hour windows every 1 hour (each event in 2 windows; the
    oracle expands the window membership with a shifted-bucket union)."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               -- >= : Spark's session_window end is exclusive, so an event
               -- exactly gap after the previous one starts a NEW session.
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n_events, {oracle_dsum('value', 2)} AS sum_value
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    """Session windows (30-minute gap) per user — Spark's native stateful
    session operator; the oracle is the classic gaps-and-islands SQL."""
    return session_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           time_bucket(INTERVAL '1 hour', ts) AS bucket_start
    FROM events
    """,
)
def stream_dedup(spark, sf_dir):
    """Exact dedup as a stream: distinct (user, event-type, hour-bucket)
    keys — the watermarked ``dropDuplicates`` form whose state stays
    bounded; tests prove the streamed run equals this batch twin."""
    from nyc_taxi_pyspark_spark.streaming.windows import dedup_keys

    return dedup_keys(load_table(spark, sf_dir, "events"))


@query(
    "stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           e.ts AS error_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id
     AND e.ts >= c.ts - INTERVAL '10 minutes'
     AND e.ts <= c.ts
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ errors within 10 minutes per
    user) in its batch form; the streaming test runs the same transform
    under two readStreams with watermarks, where the range predicate
    bounds both sides' join state."""
    from nyc_taxi_pyspark_spark.streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    return interval_join(clicks, errors)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.event_type, d.severity, e.value
    FROM events e
    JOIN (VALUES ('view','low'), ('click','low'), ('signup','medium'),
                 ('purchase','high'), ('error','critical'))
         AS d(event_type, severity)
      ON e.event_type = d.event_type
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast join (stateless enrichment) in its batch
    form; the streaming test runs the identical transform under readStream
    in append mode — no watermark, no state, per-micro-batch broadcast
    hash join."""
    from nyc_taxi_pyspark_spark.streaming.windows import enrich_static, severity_dim

    return enrich_static(load_table(spark, sf_dir, "events"), severity_dim(spark))


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(try_cast(ROUND(value * 100.0) as bigint)) AS BIGINT)
               AS sum_value_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_totals(spark, sf_dir):
    """Custom stateful streaming operator REALLY run as a stream: per-user
    running totals via applyInPandasWithState
    (streaming/stateful.running_totals_per_user) driven through readStream →
    update-mode memory sink, then reduced to each key's final state (the
    max-n_events struct per user — robust to multi-batch update logs). The
    oracle is the batch GROUP BY the final states must equal. State is
    exact integer cents, so the streamed result is bit-portable. At 100 TB
    this is the CDC/profile-maintenance shape: state store partitioned by
    key, one Arrow batch per key per micro-batch."""
    import os

    from pyspark.sql import types as T

    from nyc_taxi_pyspark_spark.streaming.runner import (
        parquet_stream_dir,
        run_stream_cached,
    )
    from nyc_taxi_pyspark_spark.streaming.stateful import (
        running_totals_per_user,
    )

    # readStream wants a DIRECTORY source; expose the single-file table
    # through a deterministic symlink dir (no data copy, reused across
    # invocations — see streaming/runner.parquet_stream_dir).
    d = parquet_stream_dir(os.path.join(sf_dir, "events.parquet"))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # persistent stream: repeat invocations reuse the running query and
    # its state store instead of paying full stream startup (the
    # production monitor shape; the final-state reduction below is what
    # makes accumulated update-mode rows safe)
    updates = run_stream_cached(
        "streaming.stateful_totals", spark, d, schema,
        running_totals_per_user, output_mode="update",
    )
    final = (
        updates.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value_cents")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.sum_value_cents").alias("sum_value_cents"),
        )
    )
    return final.orderBy("user_id")


from nyc_taxi_pyspark_spark.catalog.quality import _DRIFT_ORACLE  # noqa: E402


@query("stream_distribution_drift", oracle=_DRIFT_ORACLE)
def stream_distribution_drift(spark, sf_dir):
    """The chi-square drift monitor REALLY run as a stream: the banded
    (event_type, band, half) cell counts are maintained by a streaming
    aggregation driven through readStream → update-mode memory sink
    (state grows with cells — 5×10×2 keys — never with events), the
    final per-cell states are reduced from the update log (max count per
    key: counts only grow), and the chi-square rollup runs on the
    50-cell result. This is the production telemetry shape: the stream
    keeps tiny sufficient statistics, the expensive statistic is
    computed on demand from them. Oracle = the batch drift query —
    proving stream state equals the batch aggregate."""
    import os

    from pyspark.sql import types as T

    from nyc_taxi_pyspark_spark.catalog.quality import (
        _chi2_report,
        _drift_banded,
    )
    from nyc_taxi_pyspark_spark.streaming.runner import (
        parquet_stream_dir,
        run_stream_cached,
    )

    d = parquet_stream_dir(os.path.join(sf_dir, "events.parquet"))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def transform(stream):
        return (
            _drift_banded(stream)
            .groupBy("event_type", "band", "is_first")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    updates = run_stream_cached(
        "streaming.distribution_drift", spark, d, schema, transform,
        output_mode="update",
    )
    finals = updates.groupBy("event_type", "band", "is_first").agg(
        F.max("n").alias("n")
    )
    cells = finals.groupBy("event_type", "band").agg(
        F.sum(F.when(F.col("is_first") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("o1"),
        F.sum(F.when(F.col("is_first") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("o2"),
    )
    # the rollup self-joins cells with its own aggregate; through the
    # memory-sink view the two branches share attribute ids, so cut the
    # lineage on the (50-row) cell table first
    return _chi2_report(cells.localCheckpoint(eager=True))


@query(
    "stream_state_inspect",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(try_cast(ROUND(value * 100) as bigint)) AS BIGINT)
               AS sum_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_state_inspect(spark, sf_dir):
    """Read a stateful streaming query's CHECKPOINT back as a DataFrame
    (Spark 4 statestore data source) and prove the store's contents equal
    the batch GROUP BY — the incident-reconciliation path for production
    monitors: audit what the stream believes without touching the running
    query. First invocation builds the checkpointed per-type totals (one
    drain of the events table); repeats resume the committed checkpoint
    (offsets already written — no reprocessing) and just read state. The
    state value buffer holds the aggregation's sufficient statistics
    (count + exact integer-cents sum), so the read-back is bit-portable
    against the DuckDB oracle."""
    import os

    from nyc_taxi_pyspark_spark.streaming.runner import parquet_stream_dir
    from nyc_taxi_pyspark_spark.streaming.state_inspect import (
        checkpointed_type_totals,
        read_state,
        state_checkpoint_dir,
    )

    src = parquet_stream_dir(os.path.join(sf_dir, "events.parquet"))
    ckpt = state_checkpoint_dir(spark, sf_dir)
    checkpointed_type_totals(spark, src, ckpt)
    st = read_state(spark, ckpt)
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.col("value.sum").cast("bigint").alias("sum_cents"),
    ).orderBy("event_type")


@query(
    "stream_ewma_monitor",
    oracle="""
    WITH lagged AS (
        SELECT user_id, value,
               LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
               LAG(value, 3) OVER w AS l3, LAG(value, 4) OVER w AS l4,
               LAG(value, 5) OVER w AS l5, LAG(value, 6) OVER w AS l6,
               LAG(value, 7) OVER w AS l7, LAG(value, 8) OVER w AS l8,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events, value,
           (l1 * 128 + l2 * 64 + l3 * 32 + l4 * 16
            + l5 * 8 + l6 * 4 + l7 * 2 + l8 * 1) / 255.0 AS ewma,
           value - (l1 * 128 + l2 * 64 + l3 * 32 + l4 * 16
                    + l5 * 8 + l6 * 4 + l7 * 2 + l8 * 1) / 255.0
               AS deviation
    FROM lagged WHERE rn = 1 AND l8 IS NOT NULL
    ORDER BY user_id
    """,
)
def stream_ewma_monitor(spark, sf_dir):
    """The EWMA anomaly monitor REALLY run as a stateful stream: per-user
    ordered ring-buffer state (last 8 values) via applyInPandasWithState
    (streaming/stateful.ewma_monitor_per_user) driven through readStream →
    update-mode memory sink, reduced to each user's final emission. This
    is the state SHAPE the totals op cannot express — an EWMA needs the
    recency ORDER of its history, not just mergeable sums — and the
    production monitor form of catalog events_ewma_anomaly: the batch
    query scores history retrospectively; this one maintains the same
    trailing-8 dyadic EWMA incrementally, O(8 doubles) state per user.

    Oracle: the batch window form evaluated at each user's LAST event
    (the stream's final emission) — stream state == batch window proof,
    exact because the dyadic weights make the arithmetic bit-stable
    between the Python state path and both SQL engines."""
    import os

    from pyspark.sql import types as T

    from nyc_taxi_pyspark_spark.streaming.runner import (
        parquet_stream_dir,
        run_stream_cached,
    )
    from nyc_taxi_pyspark_spark.streaming.stateful import (
        ewma_monitor_per_user,
    )

    d = parquet_stream_dir(os.path.join(sf_dir, "events.parquet"))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    updates = run_stream_cached(
        "streaming.ewma_monitor", spark, d, schema, ewma_monitor_per_user,
        output_mode="update",
    )
    final = (
        updates.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "value", "ewma", "deviation")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.value").alias("value"),
            F.col("s.ewma").alias("ewma"),
            F.col("s.deviation").alias("deviation"),
        )
    )
    return final.orderBy("user_id")
