"""File-drop streaming ingestion (SURVEY §2.A `file_drop_stream`).

Replaces the reference's S3-notification → Lambda → Prefect trigger
(lambda_function.py:16-47; 30 s drip simulated by
upload_simulation_script.py:23-35) with the Spark-native equivalent:

    spark.readStream.option("maxFilesPerTrigger", 1).csv(input_dir)
      → foreachBatch(per-file pipeline)

Exactly-once file lifecycle comes from the checkpoint (replacing the
reference's manual input→processing→processed/errored folder moves,
churn_prediction_pipeline.py:642-680).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

BatchFn = Callable[[DataFrame, int], None]


def read_file_stream(spark: SparkSession, input_dir: str, schema) -> DataFrame:
    """One micro-batch per arriving CSV file, tagged with its source path
    (the reference keys everything by S3 object key)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("header", True)
        .csv(input_dir)
        .withColumn("_source_file", F.input_file_name())
    )


def run_foreach_batch(
    stream_df,
    batch_fn: BatchFn,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Drive the per-file pipeline. ``available_now=True`` drains the
    backlog then stops (used by tests/driver); False runs continuously
    like the reference's always-on deployment."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
