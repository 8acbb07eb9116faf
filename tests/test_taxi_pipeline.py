"""Taxi domain pipeline tests — the reference's semantic traps (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.functions.scalar import (
    distance_bucket,
    dow_iso,
    dow_spark,
    tip_rate_of_fare,
    tip_rate_of_total,
)
from nyc_taxi_pyspark_spark.functions.udfs import bucket_distance_udf, is_weekend_udf
from nyc_taxi_pyspark_spark.operators.taxi import (
    clean_trips,
    engineer_features,
    kpi_by_payment,
    kpi_distance_buckets,
    kpi_heatmap,
    payment_lookup,
)


def test_cleaning_removes_outliers_and_dups(trips):
    cleaned = clean_trips(trips)
    n_raw, n_clean = trips.count(), cleaned.count()
    assert 0 < n_clean < n_raw
    # every cleaning rule holds on the output
    bad = cleaned.filter(
        ~F.col("passenger_count").between(1, 6)
        | (F.col("trip_distance") <= 0)
        | (F.col("fare_amount") < 0)
        | (F.col("tpep_dropoff_datetime") <= F.col("tpep_pickup_datetime"))
    ).count()
    assert bad == 0
    # dedup invariant (reference 02c:69-72): zero duplicate key groups remain
    keys = [
        "tpep_pickup_datetime",
        "tpep_dropoff_datetime",
        "pickup_longitude",
        "pickup_latitude",
        "dropoff_longitude",
        "dropoff_latitude",
        "fare_amount",
        "total_amount",
    ]
    dup_groups = (
        cleaned.groupBy(*keys).count().filter(F.col("count") > 1).count()
    )
    assert dup_groups == 0


def test_two_dow_conventions_differ(spark):
    # 2015-01-05 is a Monday: Spark convention=2, ISO convention=1
    df = spark.createDataFrame(
        [(datetime.datetime(2015, 1, 5, 12, 0),)], "ts timestamp"
    )
    row = df.select(
        dow_spark("ts").alias("spark_dow"), dow_iso("ts").alias("iso_dow")
    ).first()
    assert row.spark_dow == 2
    assert row.iso_dow == 1
    # Sunday: spark=1, iso=7
    df2 = spark.createDataFrame(
        [(datetime.datetime(2015, 1, 4, 12, 0),)], "ts timestamp"
    )
    row2 = df2.select(dow_spark("ts").alias("s"), dow_iso("ts").alias("i")).first()
    assert (row2.s, row2.i) == (1, 7)


def test_two_tip_rate_denominators(spark):
    df = spark.createDataFrame([(2.0, 10.0, 20.0)], "tip double, fare double, total double")
    row = df.select(
        tip_rate_of_fare("tip", "fare").alias("of_fare"),
        tip_rate_of_total("tip", "total").alias("of_total"),
    ).first()
    assert row.of_fare == 0.2
    assert row.of_total == 0.1


def test_bucket_udf_vs_native_null_handling(spark):
    # U2 (UDF) maps None→'<1mi'; the native when-chain does the same by
    # fallthrough — they must agree everywhere (SURVEY §2.10 note).
    df = spark.createDataFrame(
        [(None,), (0.5,), (1.0,), (3.0,), (7.0,), (15.0,)], "d double"
    )
    rows = df.select(
        bucket_distance_udf("d").alias("udf"), distance_bucket("d").alias("native")
    ).collect()
    for r in rows:
        assert r.udf == r.native


def test_is_weekend_udf_matches_native(trips):
    feat = engineer_features(trips.filter(F.col("tpep_pickup_datetime").isNotNull()))
    cmp = feat.select(
        "is_weekend", is_weekend_udf(F.col("pickup_dow")).alias("udf_weekend")
    )
    assert cmp.filter(F.col("is_weekend") != F.col("udf_weekend")).count() == 0


def test_engineered_feature_invariants(trips):
    feat = engineer_features(clean_trips(trips))
    r = feat.agg(
        F.min("pickup_hour").alias("h0"),
        F.max("pickup_hour").alias("h1"),
        F.min("pickup_dow").alias("d0"),
        F.max("pickup_dow").alias("d1"),
        F.min("duration_min").alias("dur0"),
        F.sum((F.col("avg_speed_mph") < 0).cast("int")).alias("neg_speed"),
    ).first()
    assert 0 <= r.h0 and r.h1 <= 23
    assert 1 <= r.d0 and r.d1 <= 7
    assert r.dur0 > 0  # cleaning guarantees ordered timestamps
    assert r.neg_speed == 0


def test_kpis_shapes(spark, trips):
    cleaned = engineer_features(clean_trips(trips))
    by_pay = kpi_by_payment(cleaned, payment_lookup(spark)).collect()
    assert 0 < len(by_pay) <= 7
    assert sum(r.trips for r in by_pay) == cleaned.count()
    heat = kpi_heatmap(cleaned)
    assert heat.count() <= 7 * 24
    buckets = kpi_distance_buckets(cleaned)
    labels = {r.distance_bucket for r in buckets.collect()}
    assert labels <= {"<1mi", "1-2mi", "2-5mi", "5-10mi", ">=10mi"}


def test_bench_headline_set_is_consistent():
    """Every query PLANS.md snapshots must be a registered catalog query,
    listed once — guards against typos and leftovers of a removed query."""
    from nyc_taxi_pyspark_spark.catalog import QUERIES
    from scripts.dump_plans import SNAPSHOT

    missing = [n for n in SNAPSHOT if n not in QUERIES]
    assert not missing, f"snapshot names not in catalog: {missing}"
    assert len(SNAPSHOT) == len(set(SNAPSHOT))


def test_add_running_index_matches_row_number(spark):
    """U3 general form: the two-pass mapInPandas running index equals
    row_number() OVER (ORDER BY key) - 1 on a duplicate-free key, across a
    skewed multi-partition layout."""
    from pyspark.sql import Window

    from nyc_taxi_pyspark_spark.functions.udfs import add_running_index

    df = (
        spark.range(0, 997)
        .withColumn("key", (F.col("id") * 2654435761) % 1000003)
        .withColumn("payload", F.col("id") % 7)
        .repartition(9, "payload")
    )
    got = add_running_index(df, "key", index_col="idx")
    want = df.withColumn(
        "idx", F.row_number().over(Window.orderBy("key")) - F.lit(1)
    )
    assert got.count() == 997
    mismatches = (
        got.select("key", "idx")
        .join(want.select("key", F.col("idx").alias("w_idx")), "key")
        .filter(F.col("idx") != F.col("w_idx"))
        .count()
    )
    assert mismatches == 0
    # schema: original columns + the new long index
    assert got.schema["idx"].dataType.typeName() == "long"
    assert [f.name for f in got.schema.fields[:-1]] == df.columns


def test_add_running_index_partition_invariant(spark):
    """The two-pass index must be a pure function of the data and order
    key — identical under 1-partition, hash-partitioned, and default
    layouts of the same input (the 100 TB knob-vs-semantics contract)."""
    from nyc_taxi_pyspark_spark.functions.udfs import add_running_index

    base = spark.range(0, 500).withColumn(
        "key", (F.col("id") * 48271) % 100003
    )
    layouts = [base.coalesce(1), base.repartition(13, "key"), base.repartition(32)]
    results = []
    for df in layouts:
        rows = add_running_index(df, "key").select("key", "idx").collect()
        results.append(sorted((r["key"], r["idx"]) for r in rows))
    assert results[0] == results[1] == results[2]
    # and the index is a permutation of 0..n-1 following key order
    keys_by_idx = [k for k, _ in sorted(results[0], key=lambda t: t[1])]
    assert keys_by_idx == sorted(keys_by_idx)
    assert sorted(i for _, i in results[0]) == list(range(500))
