"""KS drift statistics: analytic cases, a pure-Python brute-force oracle
(ties included), and the reference's alert predicates."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from churn_model_evaluation_platform_spark.operators.drift import (
    assess_data_drift,
    assess_prediction_scores,
    drifted_columns_count,
    ks_2samp,
    value_drift,
)


def brute_ks(ref: list[float], cur: list[float]) -> float:
    """O(n·m) two-sided KS statistic, tie-correct."""
    xs = sorted(set(ref) | set(cur))
    n, m = len(ref), len(cur)
    return max(
        abs(sum(v <= x for v in ref) / n - sum(v <= x for v in cur) / m)
        for x in xs
    )


def _df(spark, vals, col="v"):
    return spark.createDataFrame([(float(v),) for v in vals], [col])


def test_identical_samples_no_drift(spark):
    a = _df(spark, range(100))
    r = ks_2samp(a, _df(spark, range(100)), "v").first()
    assert r["ks_stat"] == 0.0
    assert r["p_value"] == pytest.approx(1.0)


def test_disjoint_shift_analytic(spark):
    # ref 0..99 vs cur 50..149 → D = 0.5 exactly, p ≈ 0
    r = ks_2samp(_df(spark, range(100)), _df(spark, range(50, 150)), "v").first()
    assert r["ks_stat"] == pytest.approx(0.5)
    assert r["p_value"] < 1e-9
    assert (r["n_ref"], r["n_cur"]) == (100, 100)


def test_ks_matches_bruteforce_with_ties(spark):
    import random

    rng = random.Random(7)
    ref = [rng.randint(0, 20) / 2 for _ in range(257)]  # heavy ties
    cur = [rng.randint(3, 23) / 2 for _ in range(199)]
    r = ks_2samp(_df(spark, ref), _df(spark, cur), "v").first()
    assert r["ks_stat"] == pytest.approx(brute_ks(ref, cur), abs=1e-12)


def test_value_drift_agrees_with_ks_2samp(spark):
    import random

    rng = random.Random(11)
    rows_ref = [(rng.gauss(0, 1), rng.gauss(5, 2)) for _ in range(300)]
    rows_cur = [(rng.gauss(0.8, 1), rng.gauss(5, 2)) for _ in range(250)]
    ref = spark.createDataFrame(rows_ref, ["a", "b"])
    cur = spark.createDataFrame(rows_cur, ["a", "b"])
    vd = {r["column"]: r for r in value_drift(ref, cur, ["a", "b"]).collect()}
    ka = ks_2samp(ref, cur, "a").first()
    kb = ks_2samp(ref, cur, "b").first()
    assert vd["a"]["ks_stat"] == pytest.approx(ka["ks_stat"], abs=1e-12)
    assert vd["b"]["ks_stat"] == pytest.approx(kb["ks_stat"], abs=1e-12)
    # shifted column drifts, same-distribution column doesn't
    assert vd["a"]["p_value"] < 0.05
    assert vd["b"]["p_value"] > 0.05


def test_ks_pvalue_borderline_regime(spark):
    # Overlapping uniforms: D ≈ 0.152, asymptotic p lands just under the
    # 0.05 drift threshold — exercises the interesting decision region
    # (the NR-corrected asymptotic formula scipy's mode="asymp" used).
    ref = [i / 100 for i in range(200)]
    cur = [0.3 + i / 100 for i in range(150)]
    r = ks_2samp(_df(spark, ref), _df(spark, cur), "v").first()
    assert r["ks_stat"] == pytest.approx(brute_ks(ref, cur), abs=1e-12)
    assert 0.01 < r["p_value"] < 0.05


def test_drifted_columns_count_and_assess(spark):
    import random

    rng = random.Random(3)
    ref = spark.createDataFrame(
        [(rng.gauss(0, 1), rng.gauss(0, 1), rng.gauss(0, 1)) for _ in range(300)],
        ["a", "b", "c"],
    )
    cur = spark.createDataFrame(
        [(rng.gauss(3, 1), rng.gauss(3, 1), rng.gauss(0, 1)) for _ in range(300)],
        ["a", "b", "c"],
    )
    drift = value_drift(ref, cur, ["a", "b", "c"])
    dcc = {r["metric_name"]: r["value"] for r in drifted_columns_count(drift).collect()}
    assert dcc["driftedcolumnscount[count]"] == 2.0
    assert dcc["driftedcolumnscount[share]"] == pytest.approx(2 / 3)

    metrics = drift.select(
        F.concat(F.lit("valuedrift_"), F.col("column")).alias("metric_name"),
        F.col("p_value").alias("value"),
    ).unionAll(drifted_columns_count(drift))
    drifted, n, cols = assess_data_drift(metrics.collect())
    assert drifted is True  # share 2/3 > 0.5
    assert n == 2
    assert cols == ["a", "b"]


def test_assess_prediction_scores(spark):
    m = spark.createDataFrame(
        [("f1score", 0.65), ("precision", 0.9), ("recall", 0.72), ("accuracy", 0.95)],
        ["metric_name", "value"],
    )
    alert, failing = assess_prediction_scores(m.collect(), 0.70)
    assert alert is True
    assert failing == [("f1score", 0.65)]
    alert2, failing2 = assess_prediction_scores(m.collect(), 0.60)
    assert alert2 is False and failing2 == []


def test_value_drift_auto_with_estimates_is_lazy(spark):
    # Building the value_drift and ks_2samp plans runs no Spark job; the
    # tie counts are read only when the result is.
    ref = spark.range(0, 300).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST(id % 4 AS DOUBLE) AS b"
    )
    cur = spark.range(0, 200).selectExpr(
        "CAST(id * 3 AS DOUBLE) AS a", "CAST(id % 4 AS DOUBLE) AS b"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    lazy = value_drift(ref, cur, ["a", "b"])
    ks = ks_2samp(ref, cur, "a")
    assert len(tracker.getJobIdsForGroup(None)) == before  # no job ran
    got = {r["column"]: r["ks_stat"] for r in lazy.collect()}
    assert got["a"] == pytest.approx(
        brute_ks([float(i) for i in range(300)], [float(3 * i) for i in range(200)]),
        abs=1e-12,
    )
    assert got["b"] == pytest.approx(0.0)
    assert ks.first()["ks_stat"] == got["a"]


def test_ks_2samp_one_side_empty_is_one_null_row(spark):
    # A side with no non-null values has no ECDF: one row with null
    # ks_stat/p_value and n = 0 on that side, whichever side it is.
    ref = _df(spark, [1, 2, 2, 3])
    cur = spark.createDataFrame([(None,), (None,)], "v double")
    for a, b, n in ((ref, cur, (4, 0)), (cur, ref, (0, 4))):
        got = ks_2samp(a, b, "v").collect()
        assert len(got) == 1
        r = got[0]
        assert (r["ks_stat"], r["p_value"]) == (None, None)
        assert (r["n_ref"], r["n_cur"]) == n


def test_value_drift_by_window_matches_per_window_runs(spark):
    # One-pass windowed drift must equal running value_drift separately
    # on each window's slice.
    from pyspark.sql import functions as F

    from churn_model_evaluation_platform_spark.operators.drift import (
        value_drift,
        value_drift_by_window,
    )

    ref = spark.range(0, 400).select(
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") % 11).cast("double").alias("b"),
    )
    cur = spark.range(0, 600).select(
        F.to_timestamp(
            F.concat(F.lit("2024-01-"), F.lpad((F.col("id") % 3) * 7 + 1, 2, "0"))
        ).alias("ts"),
        ((F.col("id") % 97) * 1.3).cast("double").alias("a"),
        (F.col("id") % 11).cast("double").alias("b"),
    )
    got = {
        (str(r["window_start"]), r["column"]): round(r["ks_stat"], 9)
        for r in value_drift_by_window(
            ref, cur, ["a", "b"], "ts", unit="week"
        ).collect()
    }
    assert len(got) == 6  # 3 weeks x 2 columns
    for wk in [r["w"] for r in cur.select(
        F.date_trunc("week", "ts").alias("w")
    ).distinct().collect()]:
        piece = cur.where(F.date_trunc("week", "ts") == wk)
        expect = {
            r["column"]: round(r["ks_stat"], 9)
            for r in value_drift(ref, piece, ["a", "b"]).collect()
        }
        for col, ks in expect.items():
            assert got[(str(wk), col)] == ks
