"""Turnkey monitoring_stream: good drops produce metrics, invalid drops
route to errored/ with an audit line and never stall the stream."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from churn_model_evaluation_platform_spark.sources.lifecycle import read_log
from churn_model_evaluation_platform_spark.streaming.monitor import monitoring_stream

COLS = ["a", "b"]
SCHEMA = StructType(
    [StructField(c, DoubleType()) for c in COLS]
    + [StructField("churn", IntegerType())]
)


def _write_good(path, rng, n=120):
    lines = ["a,b,churn"]
    for _ in range(n):
        x, y = rng.uniform(0, 10), rng.uniform(0, 10)
        lines.append(f"{x},{y},{int(x + y > 10)}")
    path.write_text("\n".join(lines))


def test_monitoring_stream_routes_and_monitors(spark, tmp_path):
    rng = random.Random(31)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    _write_good(input_dir / "good.csv", rng)
    # the "bad" drop MISSES column b in its real header — the declared
    # stream schema would mask this, so the wrapper checks the file header
    (input_dir / "bad.csv").write_text("a,churn\n1.0,0\n")

    reference = spark.createDataFrame(
        [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(120)],
        "a double, b double",
    )
    alerts: list[str] = []
    metrics_path = str(tmp_path / "metrics")
    errored = str(tmp_path / "errored")

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        reference,
        COLS,
        score_fn=lambda b: b.withColumn(
            "churn_prediction", (F.col("a") + F.col("b") > 10).cast("int")
        ),
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        errored_dir=errored,
        alert_sink=lambda s, m: alerts.append(s),
    )
    q.awaitTermination(300)

    # good drop produced one metrics set
    metrics = spark.read.parquet(metrics_path)
    names = {r["metric_name"] for r in metrics.collect()}
    assert {"f1score", "valuedrift_a", "driftedcolumnscount[share]"} <= names

    # bad drop routed to errored/ with an audit line + alert
    assert os.path.isdir(errored)
    log = read_log(spark, f"{errored}/_logs/bad.csv.log")
    assert len(log) == 1 and "expected structure" in log[0].lower()
    assert "Invalid input file" in alerts


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill/restart semantics (the reference's move-to-folder state
    machine equivalence, churn_prediction_pipeline.py:642-680): a
    restart from the same checkpoint must not re-score already-consumed
    drops — each file contributes its metric set exactly once."""
    rng = random.Random(7)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    _write_good(input_dir / "drop1.csv", rng)

    reference = spark.createDataFrame(
        [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(120)],
        "a double, b double",
    )
    metrics_path = str(tmp_path / "metrics")
    kwargs = dict(
        schema=SCHEMA,
        reference=reference,
        feature_cols=COLS,
        score_fn=lambda b: b.withColumn(
            "churn_prediction", (F.col("a") + F.col("b") > 10).cast("int")
        ),
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    q1 = monitoring_stream(spark, str(input_dir), **kwargs)
    q1.awaitTermination(300)  # availableNow: consumes drop1 then stops

    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 1

    # stream is down; a second file drops; restart from the checkpoint
    _write_good(input_dir / "drop2.csv", rng)
    q2 = monitoring_stream(spark, str(input_dir), **kwargs)
    q2.awaitTermination(300)

    metrics = spark.read.parquet(metrics_path)
    # exactly one metric set per file: drop1 NOT reprocessed after restart
    assert metrics.where(F.col("metric_name") == "f1score").count() == 2

    # idempotent restart with nothing new: no further appends
    q3 = monitoring_stream(spark, str(input_dir), **kwargs)
    q3.awaitTermination(300)
    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 2


def test_drained_drops_leave_no_cached_data(spark, tmp_path):
    """An always-on monitor must not accumulate cached frames: every
    drop's metrics are released once appended, so draining N drops
    leaves the cache exactly as it found it."""
    rng = random.Random(11)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    for i in range(3):
        _write_good(input_dir / f"drop{i}.csv", rng)
    reference = spark.createDataFrame(
        [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(120)],
        "a double, b double",
    )
    metrics_path = str(tmp_path / "metrics")
    def persisted() -> set[int]:
        # ids, not a count: other tests' RDDs may be cleaned meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        reference,
        COLS,
        score_fn=lambda b: b.withColumn(
            "churn_prediction", (F.col("a") + F.col("b") > 10).cast("int")
        ),
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        alert_sink=lambda s, m: None,
    )
    q.awaitTermination(300)

    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 3
    assert persisted() - before == set()


def _score(b):
    return b.withColumn("churn_prediction", (F.col("a") + F.col("b") > 10).cast("int"))


def _reference(spark, rng):
    return spark.createDataFrame(
        [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(120)],
        "a double, b double",
    )


def test_drop_names_with_space_and_percent(spark, tmp_path):
    """The file source names each file by its percent-encoded URI: a drop
    named with a space or ``%`` still has its header read and its metrics
    landed, and a malformed one is routed with its audit line under its
    own (decoded) name — neither stops the stream."""
    rng = random.Random(5)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    _write_good(input_dir / "drop 1%.csv", rng)
    (input_dir / "bad x.csv").write_text("a,churn\n1.0,0\n")
    alerts: list[str] = []
    metrics_path = str(tmp_path / "metrics")
    errored = str(tmp_path / "errored")

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        _reference(spark, rng),
        COLS,
        score_fn=_score,
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        errored_dir=errored,
        alert_sink=lambda s, m: alerts.append(s),
    )
    q.awaitTermination(300)

    assert q.exception() is None
    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 1
    log = read_log(spark, f"{errored}/_logs/bad x.csv.log")
    assert len(log) == 1 and "expected structure" in log[0].lower()
    assert alerts.count("Invalid input file") == 1


@pytest.mark.parametrize(
    "header",
    ['"a","b","churn"', "\ufeffa,b,churn"],
    ids=["quoted_header", "utf8_bom"],
)
def test_header_parsed_as_csv(spark, tmp_path, header):
    """The drop's header is read as pandas reads it: fully quoted names
    and a UTF-8 byte-order mark are both valid headers, so the drop
    lands and nothing is routed to ``errored/``."""
    rng = random.Random(13)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    drop = input_dir / "drop.csv"
    _write_good(drop, rng)
    drop.write_text(
        drop.read_text().replace("a,b,churn", header, 1), encoding="utf-8"
    )
    alerts: list[str] = []
    metrics_path = str(tmp_path / "metrics")
    errored = str(tmp_path / "errored")

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        _reference(spark, rng),
        COLS,
        score_fn=_score,
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        errored_dir=errored,
        alert_sink=lambda s, m: alerts.append(s),
    )
    q.awaitTermination(300)

    assert q.exception() is None
    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 1
    assert not os.path.exists(errored)
    assert "Invalid input file" not in alerts


@pytest.mark.parametrize(
    "header,first_wrong",
    [("b,a,churn", "b"), ("id,a,b,churn", "id")],
    ids=["swapped", "extra_leading"],
)
def test_header_out_of_schema_order(spark, tmp_path, header, first_wrong):
    """The CSV reader applies the stream schema by position, so a drop
    whose header holds every expected column but not in the schema's
    order would be read into the wrong columns. It is routed to
    ``errored/`` with an audit line naming the first out-of-place
    column, writes no metric row, and the next drop still lands."""
    rng = random.Random(37)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    bad = input_dir / "bad.csv"
    n_cols = header.count(",") + 1
    bad.write_text(
        header + "\n" + "\n".join(",".join(["7"] * n_cols) for _ in range(20))
    )
    good = input_dir / "good.csv"
    _write_good(good, rng)
    # the file source takes the oldest file first
    os.utime(bad, (1_000_000_000, 1_000_000_000))
    os.utime(good, (1_000_000_100, 1_000_000_100))
    alerts: list[str] = []
    metrics_path = str(tmp_path / "metrics")
    errored = str(tmp_path / "errored")

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        _reference(spark, rng),
        COLS,
        score_fn=_score,
        metrics_path=metrics_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        errored_dir=errored,
        alert_sink=lambda s, m: alerts.append(s),
    )
    q.awaitTermination(300)

    assert q.exception() is None
    metrics = spark.read.parquet(metrics_path)
    assert metrics.where(F.col("metric_name") == "f1score").count() == 1
    assert metrics.select("created_at").distinct().count() == 1
    assert spark.read.parquet(errored).count() == 20
    log = read_log(spark, f"{errored}/_logs/bad.csv.log")
    assert len(log) == 1 and f"has {first_wrong} as column 1" in log[0]
    assert alerts.count("Invalid input file") == 1


def test_model_scores_each_row_once(spark, tmp_path):
    """The scored frame is cached before the predictions write, so the
    write fills the cache and monitoring reads it: the model's UDF runs
    once per row of the drop."""
    rng = random.Random(17)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    n = 150
    _write_good(input_dir / "drop.csv", rng, n)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def predict(a, b):
        calls.add(1)
        return int(a + b > 10)

    q = monitoring_stream(
        spark,
        str(input_dir),
        SCHEMA,
        _reference(spark, rng),
        COLS,
        score_fn=lambda b: b.withColumn("churn_prediction", predict("a", "b")),
        metrics_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        predictions_path=str(tmp_path / "predictions"),
        alert_sink=lambda s, m: None,
    )
    q.awaitTermination(300)

    assert spark.read.parquet(str(tmp_path / "predictions")).count() == n
    assert calls.value == n


# Spark jobs one valid drop may run after a warm-up drop: validate 1 (the
# batch's file name), score+write 1, quality+drift 4 (the metrics collect,
# tie counts included), append 2 (one file per append).
WARM_DROP_JOB_BUDGET = 8


def test_one_warmed_drop_job_budget(spark, tmp_path):
    """Guard the one-pass shape: count the Spark jobs one valid drop runs
    through ``monitoring_stream`` once a first drop has warmed the path."""
    rng = random.Random(23)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    kwargs = dict(
        schema=SCHEMA,
        reference=_reference(spark, rng),
        feature_cols=COLS,
        score_fn=_score,
        metrics_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        predictions_path=str(tmp_path / "predictions"),
        alert_sink=lambda s, m: None,
    )
    _write_good(input_dir / "warmup.csv", rng)
    monitoring_stream(spark, str(input_dir), **kwargs).awaitTermination(300)

    _write_good(input_dir / "drop.csv", rng)
    q = monitoring_stream(spark, str(input_dir), **kwargs)
    q.awaitTermination(300)

    # the stream runs each micro-batch under its run id as job group
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    metrics = spark.read.parquet(kwargs["metrics_path"])
    assert metrics.where(F.col("metric_name") == "f1score").count() == 2
    assert 0 < len(jobs) <= WARM_DROP_JOB_BUDGET, sorted(jobs)
