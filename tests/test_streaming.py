"""File-drop streaming primitives (``read_file_stream`` +
``run_foreach_batch``, the pair ``monitoring_stream`` drives): one
micro-batch per file, exactly-once via checkpoint (replaces the
reference's S3→Lambda→Prefect trigger + move-to-folder lifecycle)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from churn_model_evaluation_platform_spark.operators.quality import classification_scores
from churn_model_evaluation_platform_spark.streaming.file_stream import (
    read_file_stream,
    run_foreach_batch,
)

SCHEMA = StructType(
    [
        StructField("v", DoubleType()),
        StructField("churn", IntegerType()),
    ]
)


def _stream(spark, input_dir, pipeline, checkpoint_dir):
    return run_foreach_batch(
        read_file_stream(spark, input_dir, SCHEMA),
        lambda batch, _batch_id: pipeline(batch),
        checkpoint_dir,
    )


def _drop_file(path, rows):
    lines = ["v,churn"] + [f"{v},{c}" for v, c in rows]
    path.write_text("\n".join(lines))


def test_one_batch_per_file_scoring(spark, tmp_path):
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    metrics_path = str(tmp_path / "metrics")
    _drop_file(input_dir / "f1.csv", [(10.0, 0), (90.0, 1)])
    _drop_file(input_dir / "f2.csv", [(80.0, 1), (20.0, 0), (95.0, 1)])

    seen_files = []

    def pipeline(batch):
        # score (threshold stub), compute quality, append to metrics store
        scored = batch.withColumn(
            "churn_prediction", (F.col("v") > 50).cast("int")
        )
        files = [
            r["_source_file"]
            for r in scored.select("_source_file").distinct().collect()
        ]
        seen_files.append(sorted(files))
        classification_scores(scored).write.mode("append").parquet(metrics_path)

    q = _stream(spark, str(input_dir), pipeline, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # one micro-batch per file (maxFilesPerTrigger=1)
    assert len(seen_files) == 2
    assert all(len(f) == 1 for f in seen_files)
    metrics = spark.read.parquet(metrics_path)
    # two batches × 4 metrics each
    assert metrics.count() == 8
    # perfect threshold scorer → accuracy 1.0 in both batches
    accs = [
        r["value"]
        for r in metrics.where(F.col("metric_name") == "accuracy").collect()
    ]
    assert accs == [1.0, 1.0]


def test_checkpoint_exactly_once(spark, tmp_path):
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out: list[int] = []

    def pipeline(batch):
        out.append(batch.count())

    _drop_file(input_dir / "f1.csv", [(1.0, 0)])
    q = _stream(spark, str(input_dir), pipeline, ckpt)
    q.awaitTermination(120)
    assert out == [1]

    # restart with same checkpoint: old file NOT reprocessed, new one is
    _drop_file(input_dir / "f2.csv", [(2.0, 1), (3.0, 0)])
    q2 = _stream(spark, str(input_dir), pipeline, ckpt)
    q2.awaitTermination(120)
    assert out == [1, 2]
