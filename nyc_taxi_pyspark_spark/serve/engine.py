"""Serving / interactive surface (SURVEY.md §2.12, V1-V5).

The reference exposes arbitrary user SQL over a registered view plus
preview/summary/KPI surfaces through Streamlit (streamlit_app/app5.py:261-276,
245-258). The engine's equivalent is a thin session wrapper: the SQL dialect
IS Spark SQL, the catalog IS the Spark catalog.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_pyspark_spark.functions.scalar import register_sql_functions
from nyc_taxi_pyspark_spark.sources.io import (
    load_table,
    register_views,
    to_pandas_sanitized,
)

# The KPI dashboards (app5.py:278-308) are the catalog's oracle-checked taxi
# queries, by dashboard name.
KPIS = {
    "payment": "taxi_kpi_by_payment",
    "heatmap": "taxi_kpi_heatmap",
    "distance": "taxi_kpi_distance_buckets",
}


class Engine:
    """SQL front door + table registry over a SparkSession (V1/V2)."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        if sf_dir is not None:
            register_views(spark, sf_dir)
        register_sql_functions(spark)

    def sql(self, text: str, params: dict | None = None) -> DataFrame:
        """Arbitrary user SQL against registered views (V1;
        reference streamlit_app/app5.py:263-271).

        ``params`` binds named ``:placeholders`` server-side (Spark's
        parameterized SQL): values never enter the query text, so a
        serving layer interpolating user input — the reference UI's
        text-box-to-SQL path — is injection-safe by construction instead
        of by escaping."""
        if params:
            return self.spark.sql(text, args=params)
        return self.spark.sql(text)

    def table(self, name: str) -> DataFrame:
        from nyc_taxi_pyspark_spark.schemas import TESTDATA_TABLES

        if self.sf_dir is not None and name in TESTDATA_TABLES:
            return load_table(self.spark, self.sf_dir, name)
        return self.spark.table(name)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def preview(self, name: str, n: int = 10) -> pd.DataFrame:
        """V2 — bounded preview through the Arrow-path sanitizer."""
        return to_pandas_sanitized(self.table(name), max_rows=n)

    def kpi(self, which: str) -> DataFrame:
        """V3 — the KPI dashboard ``which`` (a key of :data:`KPIS`), built
        by its catalog query over the shared featured-trips layout."""
        from nyc_taxi_pyspark_spark.catalog import QUERIES

        return QUERIES[KPIS[which]](self.spark, self.sf_dir)

    def summary(self, name: str) -> pd.DataFrame:
        """V2 — row count + per-column null counts in one pass."""
        from nyc_taxi_pyspark_spark.operators.aggregates import null_scan

        df = self.table(name)
        counts = df.groupBy().count().withColumnRenamed("count", "n_rows")
        return counts.crossJoin(null_scan(df)).toPandas()
