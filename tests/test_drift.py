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


def _route_rows(df):
    return sorted(
        (r["column"], round(r["ks_stat"], 9), round(r["p_value"], 9))
        for r in df.collect()
    )


def test_value_drift_auto_routes_and_matches(spark):
    # The window route ({c: 0}), the prefix-sum route ({}) and the
    # measured routing (no estimates) must produce exactly the same rows.
    import random

    rng = random.Random(7)
    ref = spark.createDataFrame(
        [(rng.gauss(0, 1), float(rng.randrange(5))) for _ in range(400)],
        ["cont", "disc"],
    )
    cur = spark.createDataFrame(
        [(rng.gauss(0.5, 1), float(rng.randrange(5))) for _ in range(300)],
        ["cont", "disc"],
    )
    cols = ["cont", "disc"]
    expect = _route_rows(value_drift(ref, cur, cols, {c: 0 for c in cols}))
    assert _route_rows(value_drift(ref, cur, cols, {})) == expect
    assert _route_rows(value_drift(ref, cur, cols)) == expect


def test_value_drift_auto_mixed_cardinality(spark, monkeypatch):
    # Force the two columns into DIFFERENT routes by lowering the
    # threshold between their cardinalities: results still identical.
    from churn_model_evaluation_platform_spark.operators import drift as dmod

    ref = spark.range(0, 500).selectExpr(
        "CAST(id AS DOUBLE) AS wide", "CAST(id % 3 AS DOUBLE) AS narrow"
    )
    cur = spark.range(0, 400).selectExpr(
        "CAST(id * 2 AS DOUBLE) AS wide", "CAST(id % 3 AS DOUBLE) AS narrow"
    )
    monkeypatch.setattr(dmod, "WINDOWED_MAX_DISTINCT", 10)
    cols = ["wide", "narrow"]
    mixed = dmod.value_drift(ref, cur, cols)  # measured: wide > 10 > narrow
    windowed = dmod.value_drift(ref, cur, cols, {c: 0 for c in cols})
    assert _route_rows(mixed) == _route_rows(windowed)


def test_value_drift_measures_and_routes_without_estimates(spark, monkeypatch):
    # With no estimates passed, value_drift measures the distinct counts
    # itself: a column above WINDOWED_MAX_DISTINCT must take the
    # prefix-sum route, and still return the window route's rows.
    from churn_model_evaluation_platform_spark.operators import drift as dmod

    ref = spark.range(0, 500).selectExpr("CAST(id AS DOUBLE) AS wide")
    cur = spark.range(0, 400).selectExpr("CAST(id * 2 AS DOUBLE) AS wide")
    windowed = _route_rows(dmod.value_drift(ref, cur, ["wide"], {"wide": 0}))
    calls = []
    real = dmod.grouped_prefix_sum

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(dmod, "grouped_prefix_sum", spy)
    monkeypatch.setattr(dmod, "WINDOWED_MAX_DISTINCT", 10)
    measured = dmod.value_drift(ref, cur, ["wide"])
    assert calls == ["column"]
    assert _route_rows(measured) == windowed


def test_value_drift_auto_with_estimates_is_lazy(spark):
    # With precomputed estimates, routing must not run ANY Spark job at
    # plan-construction time — on either route — and every route must
    # produce the window route's rows.
    from churn_model_evaluation_platform_spark.operators import drift as dmod

    ref = spark.range(0, 300).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST(id % 4 AS DOUBLE) AS b"
    )
    cur = spark.range(0, 200).selectExpr(
        "CAST(id * 3 AS DOUBLE) AS a", "CAST(id % 4 AS DOUBLE) AS b"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    lazy = dmod.value_drift(
        ref,
        cur,
        ["a", "b"],
        distinct_estimates={"a": dmod.WINDOWED_MAX_DISTINCT + 5, "b": 4},
    )
    ks = dmod.ks_2samp(ref, cur, "a", distinct_estimate=7)
    # a column missing from the estimates dict takes the prefix-sum route
    missing = dmod.value_drift(ref, cur, ["a"], distinct_estimates={})
    assert len(tracker.getJobIdsForGroup(None)) == before  # no job ran
    windowed = dmod.value_drift(ref, cur, ["a", "b"], {"a": 0, "b": 0})
    assert _route_rows(lazy) == _route_rows(windowed)
    assert _route_rows(missing) == [
        r for r in _route_rows(windowed) if r[0] == "a"
    ]
    eager = dmod.ks_2samp(ref, cur, "a").first()
    got = ks.first()
    assert round(got["ks_stat"], 9) == round(eager["ks_stat"], 9)


def test_ks_2samp_strategies_identical(spark):
    # ks_2samp on the window route, the prefix-sum route and the
    # measured route returns the same single row.
    from churn_model_evaluation_platform_spark.operators.drift import (
        WINDOWED_MAX_DISTINCT,
    )

    ref = _df(spark, [1, 2, 2, 3, 5, 8])
    cur = _df(spark, [2, 3, 3, 4, 9])
    rows = {}
    for est in (0, WINDOWED_MAX_DISTINCT + 1, None):
        got = ks_2samp(ref, cur, "v", distinct_estimate=est).collect()
        assert len(got) == 1
        r = got[0]
        rows[est] = (
            round(r["ks_stat"], 9), round(r["p_value"], 9), r["n_ref"], r["n_cur"]
        )
    assert rows[0] == rows[WINDOWED_MAX_DISTINCT + 1] == rows[None]


def test_ks_2samp_one_side_empty_is_one_null_row(spark):
    # A side with no non-null values has no ECDF: one row with null
    # ks_stat/p_value and n = 0 on that side — on both routes.
    from churn_model_evaluation_platform_spark.operators.drift import (
        WINDOWED_MAX_DISTINCT,
    )

    ref = _df(spark, [1, 2, 2, 3])
    cur = spark.createDataFrame([(None,), (None,)], "v double")
    for a, b, n, est in (
        (ref, cur, (4, 0), 0),  # window route, current side empty
        (cur, ref, (0, 4), WINDOWED_MAX_DISTINCT + 1),  # prefix, ref empty
    ):
        got = ks_2samp(a, b, "v", distinct_estimate=est).collect()
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
