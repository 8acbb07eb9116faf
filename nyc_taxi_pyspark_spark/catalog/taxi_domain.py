"""The reference's full domain pipeline as catalog queries — oracle-checked.

These run the actual NYC-taxi flow the reference implements — ingest →
11-rule clean → dedup → feature engineering → KPI tables
(spark_jobs/02_clean_eda.py + 03a + 02e/05b/05c). The deterministic seed-42
trips table is materialized ONCE as a µs-timestamp parquet under the repo
(`datagen.write_trips_parquet`); both Spark and the DuckDB oracle read that
same file, so the whole pipeline — cleaning predicate battery, exact-dup
removal, feature derivations, KPI aggregation — is value-checked end to
end. Aggregated money averages use exact int-cents sums with portable
presentation rounding (functions/exact.py) on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.datagen import DATAGEN_VERSION, write_trips_parquet
from nyc_taxi_pyspark_spark.functions.exact import (
    oracle_davg,
    oracle_present_round,
)
from nyc_taxi_pyspark_spark.operators.taxi import (
    clean_trips,
    engineer_features,
    kpi_by_payment,
    kpi_distance_buckets,
    kpi_heatmap,
    payment_lookup,
)
from nyc_taxi_pyspark_spark.schemas import PAYMENT_LOOKUP_ROWS, TRIPS_SCHEMA

_TRIPS_SEED, _TRIPS_N = 42, 5000

# Filename keyed on (seed, n, generator version): a datagen change yields a
# NEW artifact path instead of silently pinning the stale file behind the
# writer's exists() early-return.
_TRIPS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".artifacts",
    f"taxi_trips_seed{_TRIPS_SEED}_n{_TRIPS_N}_v{DATAGEN_VERSION}.parquet",
)


def _ensure_trips() -> str:
    return write_trips_parquet(_TRIPS_PATH, n=_TRIPS_N, seed=_TRIPS_SEED)


# Best-effort eager write (pandas/pyarrow only — no Spark needed) so an
# oracle-before-Spark run order still finds the file; on a read-only
# checkout this no-ops and `featured` generates lazily at first query.
try:
    _ensure_trips()
except OSError:
    pass


def featured(spark):
    """The cleaned, deduplicated, feature-engineered trips: one session
    layout, read by the KPI queries below and by the serving layer's KPI,
    scoring and plot surfaces. Keyed on the fixture path, not ``sf_dir``:
    the table does not depend on it."""
    # Pin UTC and read with the explicit schema: the pandas-written parquet
    # carries naive (NTZ) timestamps; under UTC the LTZ read preserves the
    # wall time, matching DuckDB's naive TIMESTAMP reading bit-for-bit.
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def build():
        trips = spark.read.schema(TRIPS_SCHEMA).parquet(_ensure_trips())
        return engineer_features(clean_trips(trips))

    return STATE.get("taxi.featured", spark, _TRIPS_PATH, build)


# ---------------------------------------------------------------- oracle SQL

# The 11-rule cleaning battery (operators/transforms.taxi_cleaning_rules;
# reference spark_jobs/02_clean_eda.py:46-65) as one SQL predicate.
_CLEAN_PRED = """
        passenger_count BETWEEN 1 AND 6
    AND trip_distance > 0 AND trip_distance <= 100
    AND fare_amount BETWEEN 0 AND 500
    AND total_amount BETWEEN 0 AND 1000
    AND tip_amount BETWEEN 0 AND 200
    AND tpep_pickup_datetime IS NOT NULL
    AND tpep_dropoff_datetime IS NOT NULL
    AND tpep_dropoff_datetime > tpep_pickup_datetime
    AND pickup_latitude BETWEEN 40 AND 42
    AND pickup_longitude BETWEEN -75 AND -72
    AND dropoff_latitude BETWEEN 40 AND 42
    AND dropoff_longitude BETWEEN -75 AND -72
"""

# Dedup twin: the generator's only natural-key duplicates are verbatim
# row copies, so DISTINCT * keeps exactly the rows dropDuplicates(key) does.
# Features: hour/dow (Spark convention 1=Sunday via dayofweek()+1 in DuckDB)
# and the distance-bucket when-chain (05b_plots.py:92-97).
_FEATURED_CTE = f"""
    WITH cleaned AS (
        SELECT * FROM '{_TRIPS_PATH}' WHERE {_CLEAN_PRED}
    ),
    deduped AS (SELECT DISTINCT * FROM cleaned),
    featured AS (
        SELECT *,
               CAST(hour(tpep_pickup_datetime) AS INTEGER) AS pickup_hour,
               CAST(dayofweek(tpep_pickup_datetime) + 1 AS INTEGER) AS pickup_dow,
               CASE WHEN trip_distance >= 10 THEN '>=10mi'
                    WHEN trip_distance >= 5 THEN '5-10mi'
                    WHEN trip_distance >= 2 THEN '2-5mi'
                    WHEN trip_distance >= 1 THEN '1-2mi'
                    ELSE '<1mi' END AS distance_bucket
        FROM deduped
    )
"""

_PAYMENT_VALUES = ", ".join(
    f"({code}, '{label}')" for code, label in PAYMENT_LOOKUP_ROWS
)


@query(
    "taxi_kpi_by_payment",
    oracle=f"""
    {_FEATURED_CTE}
    SELECT COALESCE(l.payment_label, 'Unknown') AS payment_label,
           CAST(COUNT(*) AS BIGINT) AS trips,
           {oracle_present_round(oracle_davg('total_amount', 2), 2)} AS avg_total
    FROM featured f
    LEFT JOIN (VALUES {_PAYMENT_VALUES}) AS l(payment_type, payment_label)
      ON f.payment_type = l.payment_type
    GROUP BY 1
    ORDER BY trips DESC, payment_label
    """,
)
def taxi_kpi_by_payment(spark, sf_dir):
    """Reference flagship KPI (spark_jobs/02e:57-66): clean → enrich with
    the payment dimension (broadcast) → trips + avg total per label."""
    return kpi_by_payment(featured(spark), payment_lookup(spark))


@query(
    "taxi_kpi_heatmap",
    oracle=f"""
    {_FEATURED_CTE}
    SELECT pickup_dow, pickup_hour,
           CAST(COUNT(*) AS BIGINT) AS trips,
           {oracle_present_round(oracle_davg('total_amount', 2), 2)} AS avg_total
    FROM featured
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def taxi_kpi_heatmap(spark, sf_dir):
    """DoW×hour heatmap over the cleaned, feature-engineered trips
    (spark_jobs/05c:122-129)."""
    return kpi_heatmap(featured(spark))


@query(
    "taxi_kpi_distance_buckets",
    oracle=f"""
    {_FEATURED_CTE}
    SELECT distance_bucket,
           CAST(COUNT(*) AS BIGINT) AS trips,
           {oracle_present_round(oracle_davg('fare_amount', 2), 2)} AS avg_fare,
           {oracle_present_round(oracle_davg('tip_amount', 2), 2)} AS avg_tip
    FROM featured
    GROUP BY 1
    ORDER BY trips DESC, distance_bucket
    """,
)
def taxi_kpi_distance_buckets(spark, sf_dir):
    """Distance-bucket KPI (spark_jobs/05b:92-99)."""
    return kpi_distance_buckets(featured(spark))
