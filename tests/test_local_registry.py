"""LocalModelRegistry: register → alias → fetch → score roundtrip (the
mlflow-less registry_model_source / model_promote_alias path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from churn_model_evaluation_platform_spark.ml.registry import LocalModelRegistry
from churn_model_evaluation_platform_spark.ml.training import (
    evaluate,
    fit_pipeline,
    predict,
    train_test_split,
)
from churn_model_evaluation_platform_spark.schema import NUMERICAL_COLUMNS


@pytest.fixture(scope="module")
def trained(spark):
    import random

    rng = random.Random(5)
    rows = []
    for _ in range(200):
        feats = [rng.uniform(0, 10) for _ in NUMERICAL_COLUMNS]
        rows.append(tuple(feats) + (int(feats[0] + feats[1] > 10),))
    df = spark.createDataFrame(rows, NUMERICAL_COLUMNS + ["churn"])
    train, test = train_test_split(df)
    return fit_pipeline(train, max_iter=5, max_depth=2), train, test


def test_register_alias_fetch_roundtrip(spark, tmp_path, trained):
    tm, train, test = trained
    reg = LocalModelRegistry(spark, str(tmp_path / "registry"))

    v1 = reg.register(
        tm.model,
        "churn_model",
        calibrator=tm.calibrator,
        threshold=tm.threshold,
        feature_cols=tm.feature_cols,
        reference_df=train.limit(50),
    )
    assert v1 == 1
    reg.set_alias("churn_model", "staging", v1)
    assert reg.resolve("churn_model", "staging") == 1

    model, calibrator, meta = reg.load("churn_model", alias="staging")
    assert meta["threshold"] == tm.threshold
    assert meta["feature_cols"] == tm.feature_cols
    assert calibrator is not None

    # the fetched model scores identically to the in-memory one
    from churn_model_evaluation_platform_spark.ml.training import TrainedModel

    tm2 = TrainedModel(
        model, calibrator, meta["threshold"], 0.0, meta["feature_cols"]
    )
    a = predict(tm, test).select("proba").collect()
    b = predict(tm2, test).select("proba").collect()
    assert [r["proba"] for r in a] == pytest.approx([r["proba"] for r in b])

    # attached drift baseline roundtrips
    assert reg.load_reference("churn_model", v1).count() == 50


def test_promotion_flips_alias_between_versions(spark, tmp_path, trained):
    tm, train, test = trained
    reg = LocalModelRegistry(spark, str(tmp_path / "registry2"))
    v1 = reg.register(tm.model, "m")
    v2 = reg.register(tm.model, "m")
    assert (v1, v2) == (1, 2)
    reg.set_alias("m", "production", v1)
    assert reg.resolve("m", "production") == 1
    # promotion: repoint production at v2 (the reference's alias flip)
    reg.set_alias("m", "production", v2)
    assert reg.resolve("m", "production") == 2
    # staging and production can point at different versions
    reg.set_alias("m", "staging", v1)
    assert reg.resolve("m", "staging") == 1


def test_resolve_and_meta_run_no_spark_job(spark, tmp_path, trained):
    """Fetching a model by alias reads two small JSON files through the
    Hadoop FS: neither ``resolve`` nor ``meta`` runs a Spark job."""
    tm, _, _ = trained
    reg = LocalModelRegistry(spark, str(tmp_path / "registry3"))
    version = reg.register(tm.model, "m", threshold=tm.threshold)
    reg.set_alias("m", "production", version)

    sc = spark.sparkContext
    group = f"registry-reads-{tmp_path.name}"
    sc.setJobGroup(group, "registry reads")
    try:
        assert reg.resolve("m", "production") == version
        assert reg.meta("m", version)["threshold"] == tm.threshold
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
