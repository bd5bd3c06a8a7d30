"""Metric reshaping + metrics-store SQL surface."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, DoubleType, StructType, StructField

from churn_model_evaluation_platform_spark.operators.metrics import (
    append_metrics,
    explode_dict_metric,
    latest_metric_value,
    latest_per_metric,
    metric_timeseries,
    metrics_unpivot,
    register_metrics_view,
    simplify_metric_name,
    simplify_metric_name_expr,
    with_created_at,
)


def test_simplify_metric_name_reference_cases():
    # churn_prediction_pipeline.py:533-553 examples
    assert simplify_metric_name("F1Score(conf_matrix=True)") == "f1score"
    assert simplify_metric_name("ValueDrift(column=age_group)") == "valuedrift_age_group"
    assert simplify_metric_name("Accuracy") == "accuracy"
    assert simplify_metric_name("DriftedColumnsCount") == "driftedcolumnscount"


def test_simplify_metric_name_expr(spark):
    ids = ["F1Score(conf_matrix=True)", "ValueDrift(column=Age_Group)", "Recall"]
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    out = [
        r["n"]
        for r in df.select(simplify_metric_name_expr(F.col("id")).alias("n")).collect()
    ]
    assert out == ["f1score", "valuedrift_age_group", "recall"]


def test_metrics_unpivot(spark):
    wide = spark.createDataFrame([(0.9, 0.8)], ["f1score", "accuracy"])
    rows = {r["metric_name"]: r["value"] for r in metrics_unpivot(wide).collect()}
    assert rows == {"f1score": 0.9, "accuracy": 0.8}


def test_explode_dict_metric(spark):
    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("vals", MapType(StringType(), DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [("f1bylabel", {"0": 0.9, "1": 0.7})], schema
    )
    rows = {
        r["metric_name"]: r["value"]
        for r in explode_dict_metric(df, "name", "vals").collect()
    }
    assert rows == {"f1bylabel[0]": 0.9, "f1bylabel[1]": 0.7}


@pytest.fixture
def metrics_df(spark):
    t = datetime.datetime
    rows = [
        ("f1score", 0.8, t(2024, 1, 1)),
        ("f1score", 0.9, t(2024, 1, 2)),
        ("accuracy", 0.7, t(2024, 1, 1)),
    ]
    return spark.createDataFrame(rows, ["metric_name", "value", "created_at"])


def test_latest_metric_value_sql_shape(spark, metrics_df):
    register_metrics_view(spark, metrics_df)
    assert latest_metric_value(spark, "f1score").first()["value"] == 0.9


def test_latest_per_metric(metrics_df):
    rows = {r["metric_name"]: r["value"] for r in latest_per_metric(metrics_df).collect()}
    assert rows == {"f1score": 0.9, "accuracy": 0.7}


def test_latest_metric_value_scalable(metrics_df):
    from churn_model_evaluation_platform_spark.operators.metrics import (
        latest_metric_value_scalable,
    )

    got = latest_metric_value_scalable(metrics_df, "f1score")
    assert [r["value"] for r in got.collect()] == [0.9]
    # SURVEY §4's 100 TB rule: the semi-join rewrite must not plan ANY
    # ordering operator — no Sort, no TakeOrderedAndProject.
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan and "TakeOrdered" not in plan
    assert "BroadcastHashJoin" in plan


def test_metric_timeseries(spark, metrics_df):
    register_metrics_view(spark, metrics_df)
    vals = [r["value"] for r in metric_timeseries(spark, "f1score").collect()]
    assert vals == [0.8, 0.9]


def test_append_and_reload_roundtrip(spark, tmp_path):
    path = str(tmp_path / "metrics")
    df = with_created_at(
        spark.createDataFrame([("f1score", 0.5)], ["metric_name", "value"]),
        F.lit("2024-01-01 00:00:00").cast("timestamp"),
    )
    append_metrics(df, path)
    append_metrics(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert set(back.columns) == {"metric_name", "value", "created_at"}


def test_grant_select_ddl_shape_and_validation():
    from churn_model_evaluation_platform_spark.operators.metrics import (
        grant_select_ddl,
    )

    # the reference's exact statement shape (churn_prediction_pipeline.py:796-798)
    assert (
        grant_select_ddl("drift_metrics", "grafana_admin")
        == "GRANT SELECT ON TABLE drift_metrics TO grafana_admin;"
    )
    assert grant_select_ddl("db.drift_metrics").startswith(
        "GRANT SELECT ON TABLE db.drift_metrics"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        grant_select_ddl("drift_metrics", "user; DROP TABLE x")
    with _pytest.raises(ValueError):
        grant_select_ddl("bad-table", "grafana")


def test_grant_select_raises_on_aclless_catalog(spark):
    from churn_model_evaluation_platform_spark.operators.metrics import grant_select

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no ACL support"):
        grant_select(spark, "drift_metrics", "grafana")


# -- the dashboard's snapshot view ------------------------------------------

RUNS = 70
PANEL_METRICS = [f"m{i}" for i in range(20)]
TILES, SERIES = PANEL_METRICS[:4], PANEL_METRICS[4:]
REFRESH_JOB_BUDGET = 26


def _runs(spark, first: int, count: int):
    """``count`` runs of every panel metric, one run per day."""
    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (name, float(run * 100 + i), t0 + datetime.timedelta(days=run, seconds=i))
        for run in range(first, first + count)
        for i, name in enumerate(PANEL_METRICS)
    ]
    return spark.createDataFrame(
        rows, "metric_name string, value double, created_at timestamp"
    )


@pytest.fixture(scope="module")
def run_store(spark, tmp_path_factory):
    """A date-partitioned store of 70 one-run files, written in one job."""
    path = str(tmp_path_factory.mktemp("metrics") / "store")
    _runs(spark, 0, RUNS).withColumn(
        "metric_date", F.to_date("created_at")
    ).repartition("metric_date").write.partitionBy("metric_date").parquet(path)
    return path


def _panels(spark, table: str) -> list:
    """One dashboard refresh: 4 tiles, 16 series, the latest-per-metric table."""
    tiles = [latest_metric_value(spark, n, table).collect() for n in TILES]
    series = [metric_timeseries(spark, n, table).collect() for n in SERIES]
    latest = sorted(latest_per_metric(spark.table(table)).collect())
    return tiles + series + [latest]


def _small_store(spark, path: str, runs: int = 2) -> None:
    append_metrics(_runs(spark, 0, runs), path, partition_by_date=True)


def test_snapshot_view_answers_equal_plain_view(spark, tmp_path):
    path = str(tmp_path / "store")
    _small_store(spark, path, runs=3)
    register_metrics_view(spark, path, name="dm_snapshot")
    spark.read.parquet(path).createOrReplaceTempView("dm_plain")
    got, want = _panels(spark, "dm_snapshot"), _panels(spark, "dm_plain")
    assert got == want
    assert got[0] == [(200.0,)]
    assert len(got[4]) == 3 and len(got[-1]) == len(PANEL_METRICS)


def test_refresh_job_budget(spark, run_store):
    sc = spark.sparkContext
    group = "test_refresh_job_budget"
    sc.setJobGroup(group, group)
    try:
        register_metrics_view(spark, run_store, name="dm_budget")
        _panels(spark, "dm_budget")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= REFRESH_JOB_BUDGET, sorted(jobs)


def test_snapshot_view_sees_appends_only_when_reregistered(spark, tmp_path):
    path = str(tmp_path / "store")
    _small_store(spark, path)
    register_metrics_view(spark, path, name="dm_appends")
    count = "SELECT count(*) AS n FROM dm_appends"
    assert spark.sql(count).first()["n"] == 2 * len(PANEL_METRICS)
    append_metrics(_runs(spark, 2, 1), path, partition_by_date=True)
    assert spark.sql(count).first()["n"] == 2 * len(PANEL_METRICS)
    register_metrics_view(spark, path, name="dm_appends")
    assert spark.sql(count).first()["n"] == 3 * len(PANEL_METRICS)
    assert latest_metric_value(spark, "m0", "dm_appends").first()["value"] == 200.0


def _cached_plans(spark) -> list[str]:
    """The physical plan of every entry in the session's CacheManager."""
    manager = spark._jsparkSession.sharedState().cacheManager()
    field = manager.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(manager)
    return [
        entries.apply(i).cachedRepresentation().cacheBuilder().cachedPlan().toString()
        for i in range(entries.size())
    ]


def test_append_leaves_store_path_uncached(spark, tmp_path):
    path = str(tmp_path / "store")
    _small_store(spark, path)
    register_metrics_view(spark, path, name="dm_uncached")
    append_metrics(_runs(spark, 2, 1), path, partition_by_date=True)
    assert not [p for p in _cached_plans(spark) if path in p]


def test_reregistration_keeps_one_snapshot(spark, tmp_path):
    path = str(tmp_path / "store")
    _small_store(spark, path)

    def persisted() -> set[int]:
        # ids, not a count: other tests' RDDs may be cleaned meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    for _ in range(5):
        register_metrics_view(spark, path, name="dm_once")
    assert len(persisted() - before) <= 1
    assert spark.table("dm_once").count() == 2 * len(PANEL_METRICS)


def test_small_store_timeseries_plans_no_exchange(spark, tmp_path):
    path = str(tmp_path / "store")
    _small_store(spark, path)
    register_metrics_view(spark, path, name="dm_exchange")
    series = metric_timeseries(spark, "m5", "dm_exchange")
    assert "Exchange" not in series._jdf.queryExecution().executedPlan().toString()
    assert [r["value"] for r in series.collect()] == [5.0, 105.0]
