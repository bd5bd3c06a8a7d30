"""End-to-end flagship flow (SURVEY §3.1): the reference's entire
S3-drop → score → monitor → metrics-store → dashboard path in one test.

    train model on a baseline batch (churn-shaped, messy headers)
    → CSV drops arrive in input/ (monitoring_stream, one run per file)
    → validate (the file's own header, cleaned-space containment)
    → prepare (clean names, project, cast)
    → score with the TRAINED model (not a stub)
    → predictions parquet sink
    → monitoring_run (quality + drift vs reference, alert predicates)
    → metrics append sink → registered view
    → the dashboard's two SQL shapes run VERBATIM via spark.sql

Mirrors churn_prediction_pipeline.py:813-905 + the Grafana panel SQL
(churn-model-evaluation.json:110,479).
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from churn_model_evaluation_platform_spark.ml.training import fit_pipeline, predict
from churn_model_evaluation_platform_spark.operators.metrics import (
    register_metrics_view,
)
from churn_model_evaluation_platform_spark.schema import NUMERICAL_COLUMNS
from churn_model_evaluation_platform_spark.streaming.monitor import monitoring_stream

# Messy headers like the real drop files (double spaces, mixed case —
# data/customer_churn_0.csv:1): cleaned space must match NUMERICAL_COLUMNS.
MESSY = {
    "call_failure": "Call  Failure",
    "complains": "Complains",
    "subscription_length": "Subscription  Length",
    "charge_amount": "Charge  Amount",
    "seconds_of_use": "Seconds of Use",
    "frequency_of_use": "Frequency of use",
    "frequency_of_sms": "Frequency of SMS",
    "distinct_called_numbers": "Distinct Called Numbers",
    "age_group": "Age Group",
    "status": "Status",
    "customer_value": "Customer Value",
}


def _rows(rng, n, shift=0.0):
    out = []
    for _ in range(n):
        feats = [rng.uniform(0, 10) + shift for _ in NUMERICAL_COLUMNS]
        label = int(feats[0] + feats[1] > 10 + 2 * shift)
        out.append(feats + [label])
    return out


def _write_drop(path, rows):
    header = ",".join([MESSY[c] for c in NUMERICAL_COLUMNS] + ["Churn"])
    lines = [header] + [
        ",".join(f"{v}" for v in r[:-1]) + f",{r[-1]}" for r in rows
    ]
    path.write_text("\n".join(lines))


def test_flagship_end_to_end(spark, tmp_path):
    rng = random.Random(99)

    # 1. Train on the baseline batch (the reference's deploy-model path).
    baseline = spark.createDataFrame(
        _rows(rng, 300), NUMERICAL_COLUMNS + ["churn"]
    )
    tm = fit_pipeline(baseline, max_iter=10)

    # 2. Two CSV drops: one in-distribution, one shifted (drift).
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    _write_drop(input_dir / "drop_ok.csv", _rows(rng, 150))
    _write_drop(input_dir / "drop_shifted.csv", _rows(rng, 150, shift=4.0))

    raw_schema = StructType(
        [StructField(MESSY[c], DoubleType()) for c in NUMERICAL_COLUMNS]
        + [StructField("Churn", IntegerType())]
    )

    metrics_path = str(tmp_path / "drift_metrics")
    preds_path = str(tmp_path / "predictions")
    errored = str(tmp_path / "errored")
    alerts: list[str] = []

    # 3-8. validate the file's own (messy) header → prepare → score with
    # the trained model → predictions sink → monitor vs the training
    # baseline → metrics append, one run per file.
    q = monitoring_stream(
        spark,
        str(input_dir),
        raw_schema,
        reference=baseline.select(*NUMERICAL_COLUMNS),
        feature_cols=NUMERICAL_COLUMNS,
        score_fn=lambda b: predict(tm, b),
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        expected_columns=NUMERICAL_COLUMNS + ["churn"],
        predictions_path=preds_path,
        errored_dir=errored,
        alert_sink=lambda s, m: alerts.append(s),
    )
    q.awaitTermination(300)
    assert q.exception() is None

    # Both messy headers validated in cleaned space: nothing was routed.
    assert not os.path.exists(errored)
    assert "Invalid input file" not in alerts

    # One run per file (reference: one flow run per S3 event).
    runs = spark.read.parquet(metrics_path).where(
        F.col("metric_name") == "f1score"
    )
    assert runs.select("created_at").distinct().count() == 2

    # Shifted drop must raise the drift alert; clean drop must not alert
    # on drift. (churn_prediction_pipeline.py:868-876)
    assert "Data drift detected" in alerts

    # Predictions landed with the contract columns (13-col shape).
    preds = spark.read.parquet(preds_path)
    assert {"churn", "churn_prediction"} <= set(preds.columns)
    assert preds.count() == 300

    # 9. Dashboard SQL shapes VERBATIM (churn-model-evaluation.json:110,479)
    register_metrics_view(spark, metrics_path, name="drift_metrics")
    latest = spark.sql(
        "SELECT value FROM drift_metrics WHERE metric_name = 'f1score' "
        "ORDER BY created_at DESC LIMIT 1"
    ).collect()
    assert len(latest) == 1 and 0.0 <= latest[0]["value"] <= 1.0
    series = spark.sql(
        "SELECT created_at, value FROM drift_metrics "
        "WHERE metric_name = 'f1score' ORDER BY created_at"
    ).collect()
    assert len(series) == 2  # one point per processed drop
    # every metric family the dashboard queries is present
    names = {
        r["metric_name"]
        for r in spark.sql("SELECT DISTINCT metric_name FROM drift_metrics").collect()
    }
    assert {"f1score", "precision", "recall", "accuracy"} <= names
    assert "driftedcolumnscount[share]" in names
    assert {f"valuedrift_{c}" for c in NUMERICAL_COLUMNS} <= names
