"""Physical-plan introspection (SURVEY.md §4 discipline).

The engine's rule: after an operator is correct, read its plan and keep it
honest. These helpers read `.explain("formatted")`: the web ``/explain``
route shows the plan and its shuffle count, ``scripts/dump_plans.py``
snapshots them into PLANS.md, and tests/test_plans.py turns them into
assertable properties, so plan regressions (lost pushdown, join strategy
flips) fail CI instead of shipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


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
