"""Physical-plan introspection (SURVEY.md §4 discipline).

The engine's rule: after an operator is correct, read its plan and keep it
honest. These helpers turn `.explain("formatted")` into assertable
properties — used by tests/test_plans.py so plan regressions (lost pushdown,
join strategy flips, codegen breaks) fail CI instead of shipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def scan_pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line(s) of the parquet scan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def scan_read_schema(df: DataFrame) -> str:
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or (
        "BroadcastNestedLoopJoin" in formatted_plan(df)
    )


def uses_take_ordered(df: DataFrame) -> bool:
    """orderBy().limit() should compile to TakeOrderedAndProject — a
    per-partition heap + k-row merge, never a global sort."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def count_nodes(df: DataFrame, op: str) -> int:
    """Count distinct physical-plan nodes of a given operator name, using
    the formatted plan's detail section ("(<id>) <Op>") so tree and detail
    lines aren't double-counted."""
    import re

    plan = formatted_plan(df)
    return len(re.findall(rf"^\(\d+\) {re.escape(op)}\b", plan, flags=re.MULTILINE))


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded — they don't repartition the big side)."""
    return count_nodes(df, "Exchange")
