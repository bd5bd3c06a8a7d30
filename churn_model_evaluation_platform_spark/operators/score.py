"""Batch scoring (SURVEY §2.C `batch_score`).

The reference applies an MLflow-registry XGBoost model to the feature
matrix (churn_prediction_pipeline.py:182-199). The Spark-native engine
treats "a model" as anything that can append a prediction column to a
DataFrame:

- a ``pyspark.ml`` Model/PipelineModel (JVM-side, preferred — codegen'd
  vector ops, no Python in the hot path),
- pinned logistic-regression weights applied as one column expression.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import TARGET_PREDICTION_COLUMN


def score_with_ml_model(
    df: DataFrame,
    model,
    feature_cols: Sequence[str],
    out_col: str = TARGET_PREDICTION_COLUMN,
    features_col: str = "features",
) -> DataFrame:
    """Score with a fitted ``pyspark.ml`` classifier.

    Assembles the canonical feature columns into a vector (the model was
    trained on the same assembly — ml/training.py), transforms, and maps
    the prediction back to the reference's int contract.
    """
    from pyspark.ml.feature import VectorAssembler

    assembled = VectorAssembler(
        inputCols=list(feature_cols), outputCol=features_col, handleInvalid="keep"
    ).transform(df)
    scored = model.transform(assembled)
    return scored.select(
        *df.columns, F.col(model.getPredictionCol()).cast("int").alias(out_col)
    )


def score_with_logistic_weights(
    df: DataFrame,
    weights: dict[str, float],
    intercept: float = 0.0,
    out_col: str = TARGET_PREDICTION_COLUMN,
    proba_col: str = "churn_probability",
    proba_decimals: int = 6,
) -> DataFrame:
    """Score with PINNED logistic-regression weights as a pure Catalyst
    expression: ``p = sigmoid(intercept + Σ w_i * x_i)``, prediction =
    ``margin > 0`` (exact — no transcendental on the decision path).

    This is the closed-form analog of the reference's registry-model
    scoring (churn_prediction_pipeline.py:182-199): at serving time a
    trained linear model IS just its coefficient vector, so applying it
    is a column expression — JVM-side, codegen'd, zero Python, and
    bit-reproducible by any SQL engine (the oracle path). The rounded
    probability keeps float parity across libm implementations.
    """
    margin = F.lit(float(intercept))
    for c, w in weights.items():
        margin = margin + F.lit(float(w)) * F.col(c)
    return df.withColumn(
        proba_col,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), proba_decimals),
    ).withColumn(out_col, (margin > 0).cast("int"))

