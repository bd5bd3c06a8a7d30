"""Turnkey streaming deployment of the flagship flow (SURVEY §3.1):
the reference's whole S3-drop → validate → prepare → score → monitor →
metrics-store pipeline (churn_prediction_pipeline.py:813-905) as ONE
call over a checkpointed file stream.

Failure routing mirrors the reference's folder state machine: a batch
that fails validation is written to ``errored_dir`` with an audit-log
line (move_to_folder semantics, :853-854,:901-905) and the run
continues — one bad drop never stalls the stream.
"""

from __future__ import annotations

import csv
from functools import reduce
from typing import Callable
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.metrics import append_metrics, append_metrics_jdbc
from ..operators.prep import prepare, validate_schema_containment
from ..plans.pipeline import AlertSink, job_layer, monitoring_run
from ..sources.lifecycle import append_log
from .file_stream import read_file_stream, run_foreach_batch

ScoreFn = Callable[[DataFrame], DataFrame]


def monitoring_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    reference: DataFrame,
    feature_cols: list[str],
    score_fn: ScoreFn,
    metrics_path: str,
    checkpoint_dir: str,
    expected_columns: list[str] | None = None,
    predictions_path: str | None = None,
    errored_dir: str | None = None,
    alert_sink: AlertSink | None = None,
    available_now: bool = True,
    partition_metrics_by_date: bool = False,
    metrics_jdbc_url: str | None = None,
    metrics_jdbc_table: str = "drift_metrics",
    metrics_jdbc_properties: dict | None = None,
) -> StreamingQuery:
    """Run the reference's per-file scoring+monitoring pipeline over a
    file-drop stream. ``score_fn`` maps a prepared batch to a scored one
    (must add ``churn_prediction``; e.g. ``lambda b: predict(tm, b)``).

    Every arriving file becomes one run: validate (cleaned-space
    containment) → prepare → score → [predictions sink] → quality +
    drift vs ``reference`` → metrics append → alert predicates.

    ``metrics_jdbc_url`` additionally lands each micro-batch's metrics
    in a JDBC table EXACTLY-ONCE: the append is keyed by the streaming
    batch id (delete-any-previous-attempt, then insert — see
    ``append_metrics_jdbc``), so a batch replayed after a crash between
    sink write and checkpoint commit never double-writes the database.
    The parquet store remains the primary append-only log.
    """
    expected = expected_columns or feature_cols

    def run_one(batch: DataFrame, batch_id: int) -> None:
        # One micro-batch may carry several source files (trigger rate is
        # a tuning knob, not a semantic contract) — process each file
        # under its OWN validation verdict, like the reference's
        # one-run-per-file state machine. An empty batch has no files.
        with job_layer(spark, "validate"):
            srcs = [
                r["_source_file"]
                for r in batch.select("_source_file").distinct().collect()
            ]
        metric_frames = []
        for src in sorted(srcs):
            m = _process_file(src, batch.where(F.col("_source_file") == src))
            if m is not None:
                metric_frames.append(m)
        if not metric_frames:
            return
        all_metrics = reduce(DataFrame.unionAll, metric_frames)
        with job_layer(spark, "append"):
            append_metrics(
                all_metrics, metrics_path, partition_by_date=partition_metrics_by_date
            )
            if metrics_jdbc_url is not None:
                append_metrics_jdbc(
                    all_metrics,
                    metrics_jdbc_url,
                    metrics_jdbc_table,
                    metrics_jdbc_properties,
                    batch_id=batch_id,
                )

    def _process_file(src: str, batch: DataFrame) -> DataFrame | None:
        data = batch.drop("_source_file")
        # Validate the FILE's own header, not the stream schema: a CSV
        # read through a declared schema always has the declared columns,
        # so containment must be checked against what the file really
        # carries (reference reads + cleans the actual header,
        # churn_prediction_pipeline.py:142-159). The header is parsed as
        # CSV (quoted names) past any UTF-8 BOM, as pandas reads it. The
        # file source names files by percent-encoded URI; a local file is
        # read directly.
        path = unquote(urlsplit(src).path) if src.startswith("file:") else src
        header_cols = None
        if path.startswith("/") and path.endswith(".csv"):
            with open(path, encoding="utf-8-sig", errors="replace", newline="") as f:
                header_cols = [c.strip() for c in next(csv.reader(f), [])]
        v = validate_schema_containment(
            header_cols if header_cols is not None else data, expected, src
        )
        if not v.ok:
            with job_layer(spark, "validate"):
                if errored_dir is not None:
                    data.write.mode("append").parquet(errored_dir)
                    append_log(
                        spark,
                        f"{errored_dir}/_logs/{path.rsplit('/', 1)[-1]}.log",
                        v.error or "validation failed",
                    )
            if alert_sink is not None:
                alert_sink("Invalid input file", v.error or src)
            return None
        # cached so the predictions write fills it and monitoring_run
        # reads it: the model scores each row once
        scored = score_fn(prepare(data, feature_cols)).cache()
        try:
            if predictions_path is not None:
                with job_layer(spark, "score+write"):
                    scored.write.mode("append").parquet(predictions_path)
            return monitoring_run(
                scored, reference, feature_cols, alert_sink=alert_sink
            ).metrics
        finally:
            scored.unpersist()

    stream = read_file_stream(spark, input_dir, schema)
    return run_foreach_batch(stream, run_one, checkpoint_dir, available_now)


__all__ = ["monitoring_stream"]
