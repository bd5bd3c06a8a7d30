"""The flagship batch run: score + monitor one batch (SURVEY §3.1).

Re-expresses the reference's Prefect flow
(churn_prediction_pipeline.py:813-905), one pass over the data per stage:

    validate → prepare → score → [predictions sink]
             → quality scores + drift vs reference → metrics append
             → alert predicates → alert callback

Spark-first choices:
- the scored batch is read from a cache (in the stream the predictions
  write fills it, so the model scores each row once): once into
  per-value tie counts for drift, once into one confusion matrix for
  quality;
- the ~30 metric rows are collected once; the alert predicates run in
  Python over them, and the same rows are appended;
- the reference dataset is small by construction (a training snapshot) —
  it rides along via broadcast-sized DataFrame;
- alerts are a pluggable callback (console/file locally, SNS in cloud) —
  the reference's SNS publish (churn_prediction_pipeline.py:755-767) is a
  side-effect, not a dataflow concern.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import (
    assess_data_drift,
    assess_prediction_scores,
    drifted_columns_count_rows,
    estimate_distinct_counts,  # re-exported for perfbench's traced install
    value_drift,
)
from ..operators.metrics import metrics_frame, with_created_at
from ..operators.quality import (
    classification_scores,
    per_label_scores,
    quality_scores,
)
from ..schema import TARGET_COLUMN, TARGET_PREDICTION_COLUMN

AlertSink = Callable[[str, str], None]


def console_alert_sink(subject: str, message: str) -> None:
    """Local stand-in for the SNS publish sink
    (churn_prediction_pipeline.py:755-767)."""
    print(f"[ALERT] {subject}: {message}")


@contextmanager
def job_layer(spark: SparkSession, layer: str) -> Iterator[None]:
    """Describe the Spark jobs run inside the block as ``layer`` (the
    description a job list shows), then restore the previous description."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(layer)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


@dataclass
class MonitoringResult:
    metrics: DataFrame
    drifted: bool
    n_drifted_columns: int
    drifted_columns: list[str]
    scores_alert: bool
    failing_scores: list[tuple[str, float]] = field(default_factory=list)


def monitoring_run(
    current: DataFrame,
    reference: DataFrame,
    feature_cols: list[str],
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
    created_at: Column | None = None,
    alert_sink: AlertSink | None = None,
    score_threshold: float = 0.70,
) -> MonitoringResult:
    """Compute the full metrics set for one scored batch and evaluate the
    reference's alert predicates (churn_prediction_pipeline.py:864-896).

    ``current`` must already carry ``actual_col`` + ``predicted_col``
    (the output of scoring). One Spark action collects the metric rows.
    Returns those rows as the long-format metrics DataFrame
    (metric_name, value, created_at) ready for the append sink.
    """
    spark = current.sparkSession
    # read by the tie counts and by quality; if the CALLER already cached
    # the batch, cache() is a no-op and it is theirs to release
    owns_current_cache = not current.is_cached
    current = current.cache()
    try:
        drift = value_drift(reference, current, feature_cols)
        metrics = quality_scores(current, actual_col, predicted_col).unionAll(
            drift.select(
                F.concat(F.lit("valuedrift_"), F.col("column")).alias("metric_name"),
                F.col("p_value").alias("value"),
            )
        )
        # the run's one timestamp travels as epoch micros: exact, and free
        # of the driver's local time zone
        metrics = with_created_at(metrics, created_at).select(
            "metric_name", "value", F.unix_micros("created_at").alias("created_us")
        )
        with job_layer(spark, "quality+drift"):
            collected = metrics.collect()
    finally:
        if owns_current_cache:
            current.unpersist()
    rows = [(r["metric_name"], r["value"]) for r in collected]
    rows += drifted_columns_count_rows(
        [v for name, v in rows if name.startswith("valuedrift_")]
    )
    drifted, n_drifted, drifted_cols = assess_data_drift(rows)
    scores_alert, failing = assess_prediction_scores(rows, score_threshold)
    sink = alert_sink or console_alert_sink
    if drifted:
        sink(
            "Data drift detected",
            f"{n_drifted} drifted column(s): {', '.join(drifted_cols)}",
        )
    if scores_alert:
        sink(
            "Prediction scores below threshold",
            ", ".join(f"{n}={v:.4f}" for n, v in failing),
        )
    return MonitoringResult(
        metrics=with_created_at(
            metrics_frame(spark, rows),
            F.timestamp_micros(F.lit(collected[0]["created_us"])),
        ),
        drifted=drifted,
        n_drifted_columns=n_drifted,
        drifted_columns=drifted_cols,
        scores_alert=scores_alert,
        failing_scores=failing,
    )


__all__ = [
    "AlertSink",
    "MonitoringResult",
    "console_alert_sink",
    "job_layer",
    "monitoring_run",
    # each layer's functions stay reachable here, where perfbench's traced
    # run wraps them by name (quality now runs as one quality_scores pass)
    "assess_data_drift",
    "assess_prediction_scores",
    "classification_scores",
    "estimate_distinct_counts",  # read only by perfbench's traced install
    "per_label_scores",
]
