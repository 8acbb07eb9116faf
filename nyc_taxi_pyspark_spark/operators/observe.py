"""Pipeline observability via ``df.observe`` (SURVEY.md §4).

The reference counts rows before/after each cleaning step with separate
``count()`` actions (spark_jobs/02_clean_eda.py:72-74), re-executing the
whole plan per count — at 100 TB that's the pipeline run twice. ``observe``
attaches accumulator-backed metrics to the ONE pass that produces the
output: row accounting becomes free.

Known Spark 4.1 interaction (pinned by tests/test_ml_pipelines.py::
test_evaluate_survives_prior_observation): once any ``Observation`` has
been registered in a session, the ObservationManager's listener stays on
the session's listener bus forever (the observations map itself empties
correctly), and an ML pipeline FIT performed *after* that produces a
model whose transform output fails DataFrame→RDD conversion with ``Task
not serializable … NotSerializableException: ObservationManager`` —
breaking every collect/write/evaluate on the transform output (the
prediction UDF captures the model, whose trainingSummary holds the
session). ``ml.pipelines.strip_training_summaries`` removes the capture
after every engine fit, and ``fit_and_evaluate_*`` additionally fall back
to native DataFrame-only metrics if the closure bug still surfaces — so
observe-then-train sessions keep working.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def clean_with_accounting(
    df: DataFrame, rules, dedup_keys=None
) -> tuple[DataFrame, dict]:
    """Cleaning pipeline with single-pass row accounting: returns the
    cleaned frame and a metrics dict {raw, after_rules, after_dedup} —
    computed from observations attached to one execution, not three
    count() re-runs."""
    from nyc_taxi_pyspark_spark.operators.transforms import apply_rules, dedup

    raw_obs = Observation("raw")
    rules_obs = Observation("after_rules")

    staged = df.observe(raw_obs, F.count(F.lit(1)).alias("n"))
    filtered = apply_rules(staged, rules).observe(
        rules_obs, F.count(F.lit(1)).alias("n")
    )
    final = dedup(filtered, dedup_keys) if dedup_keys else filtered
    n_final = final.count()  # the single action that fills every observation
    metrics = {
        "raw": raw_obs.get["n"],
        "after_rules": rules_obs.get["n"],
        "after_dedup": n_final,
    }
    return final, metrics
