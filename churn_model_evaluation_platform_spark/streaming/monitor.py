"""Turnkey streaming deployment of the flagship flow (SURVEY §3.1):
the reference's whole S3-drop → validate → prepare → score → monitor →
metrics-store pipeline (churn_prediction_pipeline.py:813-905) as ONE
call over a checkpointed file stream.

Failure routing mirrors the reference's folder state machine: a drop
that fails validation (not a CSV key, a header missing an expected
column, or the schema's columns out of order) is copied byte for byte
to ``errored_dir`` with an audit-log line under ``errored_dir/_logs``
(move_to_folder semantics, :853-854,:901-905), the "Invalid input file"
alert fires, and the run continues — one bad drop never stalls the
stream. The header read, the copy and the audit line go through the
Hadoop FS helpers of ``sources/lifecycle``: no Spark job, and the same
code for every scheme the file source reads.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.metrics import append_metrics, append_metrics_jdbc
from ..operators.prep import (
    ValidationResult,
    clean_name,
    prepare,
    validate_extension,
    validate_schema_containment,
)
from ..plans.pipeline import AlertSink, job_layer, monitoring_run
from ..sources.lifecycle import append_log, copy_file, read_csv_header
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

    Every arriving file becomes one run: validate (CSV key, then the
    header's cleaned-space containment, then the schema's column order)
    → prepare → score → [predictions sink] → quality + drift vs
    ``reference`` → metrics append → alert predicates.

    ``metrics_jdbc_url`` additionally lands each micro-batch's metrics
    in a JDBC table EXACTLY-ONCE: the append is keyed by the streaming
    batch id (delete-any-previous-attempt, then insert — see
    ``append_metrics_jdbc``), so a batch replayed after a crash between
    sink write and checkpoint commit never double-writes the database.
    The parquet store remains the primary append-only log.
    """
    expected = expected_columns or feature_cols

    def run_one(batch: DataFrame, batch_id: int) -> None:
        # read_file_stream pins maxFilesPerTrigger=1, so a micro-batch
        # holds at most one file: one run per file, like the reference's
        # one-run-per-file state machine. An empty batch has no row.
        with job_layer(spark, "validate"):
            first = batch.select("_source_file").first()
        if first is None:
            return
        metrics = _process_file(first["_source_file"], batch)
        if metrics is None:
            return
        with job_layer(spark, "append"):
            append_metrics(
                metrics, metrics_path, partition_by_date=partition_metrics_by_date
            )
            if metrics_jdbc_url is not None:
                append_metrics_jdbc(
                    metrics,
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
        # churn_prediction_pipeline.py:142-159). A key that is not CSV is
        # rejected first (:135-138).
        v = validate_extension(src)
        if v.ok:
            header = read_csv_header(spark, src)
            v = validate_schema_containment(header, expected, src)
            if v.ok:
                v = _header_order(header, data.columns, src)
        if not v.ok:
            # the original file, byte for byte: a copy, not a move, since
            # the file source owns its input and a replayed batch reads it
            if errored_dir is not None:
                name = copy_file(spark, src, errored_dir).rsplit("/", 1)[-1]
                append_log(
                    spark,
                    f"{errored_dir}/_logs/{name}.log",
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


def _header_order(header: list[str], columns: list[str], src: str) -> ValidationResult:
    """The CSV reader applies the stream schema by position and ignores
    the header, so a file lands only if its cleaned header starts with
    the schema's columns in order (trailing extra columns are fine);
    anything else would be read into the wrong columns."""
    have = [clean_name(c) for c in header]
    for i, want in enumerate(clean_name(c) for c in columns):
        got = have[i] if i < len(have) else "nothing"
        if got != want:
            return ValidationResult(
                ok=False,
                error=(
                    f"Input file {src} has {got} as column {i + 1}, where the "
                    f"schema expects {want}: its columns are out of order"
                ),
            )
    return ValidationResult(ok=True)


__all__ = ["monitoring_stream"]
