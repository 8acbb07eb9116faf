"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (pricing_summary — the TPC-H-Q1
shape generalizing the reference's KPI aggregates, SURVEY.md §2.4 A5) at
sf0.001. ``queries()``/``oracle_sql()`` expose the full named-query catalog
from ``nyc_taxi_pyspark_spark.catalog`` — one entry per implemented operator
from SURVEY.md §2, each with a DuckDB oracle twin where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the package importable no matter where the driver launches from.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from nyc_taxi_pyspark_spark.catalog import ORACLES, QUERIES  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["pricing_summary"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB ANSI-SQL twin per query (omitted ⇒ rows-only check)."""
    return dict(ORACLES)
