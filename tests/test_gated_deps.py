"""Gated-dependency tier (VERDICT r7 #9): execute the xgboost branch
wherever that package exists, so the fallbacks' parity claims
stop being untested code. Where the import fails the test
here SKIPS (visible in the -q tally as 's'); a CI image with the
package installed turns it into recorded green runs with zero code
changes.

The guard this exercises:
- ml/training.py train_gbt: SparkXGBClassifier when importable, MLlib
  GBTClassifier otherwise — this tier proves the xgboost path fits and
  scores on the same frame the fallback is proven on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def churn_frame(spark):
    # 200-row deterministic frame, separable on f1.
    return spark.range(200).select(
        (F.col("id") % 10).cast("double").alias("f1"),
        ((F.col("id") * 7) % 13).cast("double").alias("f2"),
        ((F.col("id") % 10) >= 5).cast("int").alias("churn"),
    )


def test_xgb_branch_fits_and_scores(churn_frame):
    pytest.importorskip("xgboost", reason="xgboost not installed")
    from churn_model_evaluation_platform_spark.ml.training import (
        assemble,
        train_gbt,
    )

    model = train_gbt(churn_frame, ["f1", "f2"], max_iter=5)
    # The gated import resolved → the model must BE the xgboost one.
    assert "xgb" in type(model).__name__.lower()
    scored = model.transform(assemble(churn_frame, ["f1", "f2"]))
    preds = scored.select("prediction").distinct().collect()
    assert {int(r["prediction"]) for r in preds} <= {0, 1}
    # Separable data → near-perfect training accuracy.
    acc = scored.where(
        F.col("prediction").cast("int") == F.col("churn")
    ).count() / 200.0
    assert acc >= 0.95
