"""The flagship batch run: score + monitor one batch (SURVEY §3.1).

Re-expresses the reference's Prefect flow
(churn_prediction_pipeline.py:813-905) as one lazy Spark plan per stage:

    validate → prepare → score → [predictions sink]
             → quality scores + drift vs reference → metrics append
             → alert predicates → alert callback

Spark-first choices:
- the prepared batch is consumed by scoring, drift, AND quality — it is
  ``cache()``d once instead of recomputed (reference materializes eagerly
  at every task boundary);
- the reference dataset is small by construction (a training snapshot) —
  it rides along via broadcast-sized DataFrame;
- alerts are a pluggable callback (console/file locally, SNS in cloud) —
  the reference's SNS publish (churn_prediction_pipeline.py:755-767) is a
  side-effect, not a dataflow concern.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.drift import (
    assess_data_drift,
    assess_prediction_scores,
    drifted_columns_count,
    estimate_distinct_counts,
    value_drift,
    value_drift_metrics,
)
from ..operators.metrics import with_created_at
from ..operators.quality import classification_scores, per_label_scores
from ..schema import TARGET_COLUMN, TARGET_PREDICTION_COLUMN

AlertSink = Callable[[str, str], None]


def console_alert_sink(subject: str, message: str) -> None:
    """Local stand-in for the SNS publish sink
    (churn_prediction_pipeline.py:755-767)."""
    print(f"[ALERT] {subject}: {message}")


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
    (the output of scoring). Returns the long-format metrics DataFrame
    (metric_name, value, created_at) ready for the append sink.
    """
    # consumed by quality AND per-column drift; if the CALLER already
    # cached the batch, cache() is a no-op and the unpersist below must
    # not drop their persisted data — only release what we acquired.
    owns_current_cache = not current.is_cached
    current = current.cache()
    scores = classification_scores(current, actual_col, predicted_col)
    per_label = per_label_scores(current, actual_col, predicted_col)
    # Per-column cardinality routes each column to the windowed path
    # (moderate cardinality — skips the prefix-sum boundary pass that
    # dominates monitoring-sized batches) or the grouped prefix sum (no
    # single-reducer cliff when a column has millions of distinct
    # values). Identical results. The estimate is ONE explicit map-side
    # HLL pass here — `current` is cached above and this run executes
    # immediately — passed down so value_drift's plan construction
    # itself stays fully lazy.
    estimates = estimate_distinct_counts(reference, current, feature_cols)
    drift = value_drift(
        reference, current, feature_cols, distinct_estimates=estimates
    ).cache()
    metrics = (
        scores.unionAll(per_label)
        .unionAll(
            drift.select(
                F.concat(F.lit("valuedrift_"), F.col("column")).alias("metric_name"),
                F.col("p_value").alias("value"),
            )
        )
        .unionAll(drifted_columns_count(drift))
    )
    metrics = with_created_at(metrics, created_at).cache()

    try:
        # The first assessment materializes `metrics` (small, long-format),
        # which is the last consumer of the data-proportional `current` and
        # `drift` caches — release them immediately after so a monitoring
        # run never keeps a full input batch pinned in executor memory
        # (streaming/monitor.py does the same).
        drifted, n_drifted, drifted_cols = assess_data_drift(metrics)
        scores_alert, failing = assess_prediction_scores(metrics, score_threshold)
    finally:
        if owns_current_cache:
            current.unpersist()
        drift.unpersist()
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
        metrics=metrics,
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
    "monitoring_run",
    "value_drift_metrics",
]
