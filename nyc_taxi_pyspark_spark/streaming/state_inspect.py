"""Streaming state-store inspection (Spark 4 `statestore` data source).

A stateful streaming query's truth lives in its checkpoint — the state
store entries, not the sink. Spark 4 exposes that state as a READABLE
DataFrame (`spark.read.format("statestore").load(checkpoint)`), which is
the ops surface for a production pipeline: audit what a monitor believes
without touching the running query, debug a hot key, reconcile state
against a batch recomputation after an incident. This module wraps the
build-a-checkpoint + read-the-state pair; `stream_state_inspect` in the
catalog proves state == batch GROUP BY, hash-exact.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def checkpointed_type_totals(
    spark: SparkSession, source_dir: str, checkpoint_dir: str
) -> None:
    """Run (or resume) the checkpointed per-type totals aggregation over a
    parquet events directory until all available input is committed, then
    stop. On a pre-existing checkpoint this is a fast no-op drain — the
    source offsets are already committed, so no data is reprocessed."""
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).try_cast("bigint")).alias(
            "sum_cents"
        ),
    )
    # the query exists for its STATE, so the sink is a full-drain noop:
    # foreachBatch (unlike the memory sink) supports restarting from an
    # existing checkpoint, and the noop write materializes EVERY
    # partition — required for the state-store commit validation (a
    # batch function that skips partitions fails the commit check)
    def _drain(batch_df, epoch_id):
        batch_df.write.format("noop").mode("overwrite").save()

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_drain)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_state(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The raw state rows of a checkpointed stateful query:
    (key struct, value struct, partition_id)."""
    return spark.read.format("statestore").load(checkpoint_dir)


def state_checkpoint_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic per-(application, table) checkpoint location, reused
    across invocations so repeat reads inspect the SAME state instead of
    rebuilding it (same idiom as streaming/runner.parquet_stream_dir).
    The application id names it, so no later process reads it again: the
    process that creates it removes it when the interpreter exits."""
    tag = hashlib.sha1(
        f"{spark.sparkContext.applicationId}|{os.path.realpath(sf_dir)}".encode()
    ).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"state_inspect_{tag}")
    try:
        os.makedirs(d)
    except FileExistsError:
        pass
    else:
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
