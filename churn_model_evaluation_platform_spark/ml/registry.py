"""Filesystem model registry with each version's drift reference
(SURVEY §2.A ``registry_model_source`` / ``artifact_reference_source``;
§2.C ``model_promote_alias``).

``LocalModelRegistry`` registers a fitted model, flips aliases and loads
a version by alias, mirroring fetch_model churn_prediction_pipeline.py:
87-113 and the alias promotion churn_model_training.py:192-194 without
a registry server. The drift baseline the reference attaches to each
model version as a CSV artifact (churn_model_training.py:180-188,
reloaded churn_prediction_pipeline.py:276-297) is stored beside the
model as a Parquet ``reference/`` snapshot.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..sources.lifecycle import read_text, write_text


class LocalModelRegistry:
    """Filesystem model registry: register → alias → fetch, the
    engine-native counterpart of the reference's MLflow registry
    (fetch_model churn_prediction_pipeline.py:87-113; promotion
    churn_model_training.py:192-194) with no registry server.

    Layout under ``base_dir`` (any Hadoop-FS-reachable path — local,
    HDFS, S3A):

        models/<name>/v<N>/model/         MLlib writable (model.save)
        models/<name>/v<N>/calibrator/    optional (TrainedModel)
        models/<name>/v<N>/meta.json      model class + threshold + cols
        models/<name>/v<N>/reference/     optional drift-baseline parquet
        models/<name>/aliases/<alias>.json  {"version": N}

    ``meta.json`` and the alias files are read and written through the
    Hadoop FS helpers of ``sources/lifecycle``, so ``resolve`` and
    ``meta`` run no Spark job. An alias flip is one small-file write
    (atomic enough for the single-writer promotion flow the reference
    runs; a real multi-writer deployment would put aliases behind a
    database, which ``append_metrics_jdbc``'s connection layer already
    reaches).
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")

    def _model_dir(self, name: str, version: int) -> str:
        return f"{self.base}/models/{name}/v{version}"

    def next_version(self, name: str) -> int:
        v = 1
        while read_text(self.spark, f"{self._model_dir(name, v)}/meta.json"):
            v += 1
        return v

    def register(
        self,
        model,
        name: str,
        calibrator=None,
        threshold: float | None = None,
        feature_cols: list[str] | None = None,
        reference_df: DataFrame | None = None,
    ) -> int:
        """Persist a fitted MLlib model (or a TrainedModel's parts) as
        the next version; returns the version number."""
        version = self.next_version(name)
        d = self._model_dir(name, version)
        model.write().overwrite().save(f"{d}/model")
        meta = {
            "version": version,
            "model_class": f"{type(model).__module__}.{type(model).__name__}",
        }
        if calibrator is not None:
            calibrator.write().overwrite().save(f"{d}/calibrator")
            meta["calibrator_class"] = (
                f"{type(calibrator).__module__}.{type(calibrator).__name__}"
            )
        if threshold is not None:
            meta["threshold"] = float(threshold)
        if feature_cols is not None:
            meta["feature_cols"] = list(feature_cols)
        if reference_df is not None:
            reference_df.write.mode("overwrite").parquet(f"{d}/reference")
        write_text(self.spark, f"{d}/meta.json", json.dumps(meta))
        return version

    def set_alias(self, name: str, alias: str, version: int) -> None:
        """Point an alias (staging/production) at a version — the
        reference's set_registered_model_alias."""
        write_text(
            self.spark,
            f"{self.base}/models/{name}/aliases/{alias}.json",
            json.dumps({"version": int(version)}),
        )

    def _read_json(self, path: str) -> dict:
        text = read_text(self.spark, path)
        if text is None:
            raise FileNotFoundError(path)
        return json.loads(text)

    def resolve(self, name: str, alias: str) -> int:
        path = f"{self.base}/models/{name}/aliases/{alias}.json"
        return int(self._read_json(path)["version"])

    def meta(self, name: str, version: int) -> dict:
        return self._read_json(f"{self._model_dir(name, version)}/meta.json")

    @staticmethod
    def _load_class(dotted: str):
        mod, cls = dotted.rsplit(".", 1)
        import importlib

        return getattr(importlib.import_module(mod), cls)

    def load(self, name: str, version: int | None = None, alias: str | None = None):
        """Load (model, calibrator_or_None, meta) by version or alias —
        the models:/<name>@<alias> fetch."""
        if version is None:
            if alias is None:
                raise ValueError("pass version= or alias=")
            version = self.resolve(name, alias)
        d = self._model_dir(name, version)
        meta = self.meta(name, version)
        model = self._load_class(meta["model_class"]).load(f"{d}/model")
        calibrator = None
        if "calibrator_class" in meta:
            calibrator = self._load_class(meta["calibrator_class"]).load(
                f"{d}/calibrator"
            )
        return model, calibrator, meta

    def load_reference(self, name: str, version: int) -> DataFrame:
        return self.spark.read.parquet(
            f"{self._model_dir(name, version)}/reference"
        )
