"""Salted-join equivalence + date-partitioned metrics store layout."""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from churn_model_evaluation_platform_spark.functions.skew import salted_join
from churn_model_evaluation_platform_spark.operators.metrics import (
    append_metrics,
    register_metrics_view,
)


def _skewed_frames(spark):
    rng = random.Random(5)
    # 90% of left rows hit key 0 (the hot key), the rest spread over 50.
    left = spark.createDataFrame(
        [
            (0 if rng.random() < 0.9 else rng.randint(1, 50), i)
            for i in range(2000)
        ],
        "k int, v int",
    )
    right = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(51)], "k int, name string"
    )
    return left, right


def test_salted_inner_join_equals_plain(spark):
    left, right = _skewed_frames(spark)
    plain = left.join(right, ["k"], "inner").orderBy("v").collect()
    salted = salted_join(left, right, ["k"], salt=8).orderBy("v").collect()
    assert [tuple(r) for r in salted] == [tuple(r) for r in plain]


def test_salted_left_join_keeps_unmatched(spark):
    left, right = _skewed_frames(spark)
    right_missing = right.where(F.col("k") != 0)  # hot key unmatched
    plain = left.join(right_missing, ["k"], "left").orderBy("v").collect()
    salted = (
        salted_join(left, right_missing, ["k"], salt=8, how="left")
        .orderBy("v")
        .collect()
    )
    assert [tuple(r) for r in salted] == [tuple(r) for r in plain]


def test_partitioned_metrics_store(spark, tmp_path):
    path = str(tmp_path / "metrics")
    df = spark.createDataFrame(
        [
            ("f1score", 0.9, "2026-08-10 10:00:00"),
            ("f1score", 0.8, "2026-08-11 10:00:00"),
        ],
        "metric_name string, value double, created_at string",
    ).withColumn("created_at", F.to_timestamp("created_at"))
    append_metrics(df, path, partition_by_date=True)

    # hive-style partition dirs exist → dashboard date filters prune
    parts = {d for d in os.listdir(path) if d.startswith("metric_date=")}
    assert parts == {"metric_date=2026-08-10", "metric_date=2026-08-11"}

    register_metrics_view(spark, path, name="dm_part")
    got = spark.sql(
        "SELECT value FROM dm_part WHERE metric_date = DATE'2026-08-11'"
    ).collect()
    assert [r["value"] for r in got] == [0.8]


def test_compact_store_preserves_rows(spark, tmp_path):
    import glob

    from churn_model_evaluation_platform_spark.operators.metrics import compact_store

    path = str(tmp_path / "m")
    base = spark.createDataFrame(
        [("f1score", float(i) / 10, f"2026-08-1{i % 2} 10:00:00") for i in range(10)],
        "metric_name string, value double, created_at string",
    ).withColumn("created_at", F.to_timestamp("created_at"))
    # ten appends → many small files
    for i in range(10):
        base.where(F.col("value") == i / 10).write.mode("append").parquet(path)
    before_files = len(glob.glob(f"{path}/*.parquet"))
    before = spark.read.parquet(path).orderBy("value").collect()

    n = compact_store(spark, path, target_partitions=1)

    after_files = len(glob.glob(f"{path}/*.parquet"))
    after = spark.read.parquet(path).orderBy("value").collect()
    assert n == 10 and after == before
    assert after_files < before_files and after_files == 1


def test_compact_store_keeps_store_when_swap_fails(spark, tmp_path, monkeypatch):
    from churn_model_evaluation_platform_spark.operators.metrics import compact_store

    path = str(tmp_path / "m")
    rows = [("f1score", float(i), "2026-08-10 10:00:00") for i in range(6)]
    base = spark.createDataFrame(
        rows, "metric_name string, value double, created_at string"
    ).withColumn("created_at", F.to_timestamp("created_at"))
    for i in range(3):
        base.where(F.col("value") % 3 == i).write.mode("append").parquet(path)
    before = spark.read.parquet(path).orderBy("value").collect()

    move, calls = shutil.move, []

    def second_move_fails(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected failure of the second move")
        return move(src, dst)

    monkeypatch.setattr(shutil, "move", second_move_fails)
    with pytest.raises(OSError, match="injected"):
        compact_store(spark, path, target_partitions=1)
    monkeypatch.undo()

    assert spark.read.parquet(path).orderBy("value").collect() == before
    assert os.listdir(tmp_path) == ["m"]
