"""Round-9 drift-method breadth (operators/drift.py: hellinger, tvd,
energy_distance, mannwhitney_u) and the PR-side AUC
(operators/evalcurves.py: auc_pr). Expectations are hand-derived or
checked against an independent implementation (math.erfc for the
normal tail vs the engine's Abramowitz–Stegun polynomial)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from churn_model_evaluation_platform_spark.operators.drift import (
    drift_statistic,
    energy_distance,
    hellinger,
    mannwhitney_u,
    tvd,
)
from churn_model_evaluation_platform_spark.operators.evalcurves import auc_pr


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


# -- Mann–Whitney U ---------------------------------------------------------


def test_mannw_no_ties_hand_computed(spark):
    # ref=[1,2,3], cur=[4,5,6]: R_cur=15, U = 15 - 3*4/2 = 9,
    # mean=4.5, var=3*3/12*7=5.25, z=4.5/sqrt(5.25)
    row = mannwhitney_u(
        _vals(spark, [1, 2, 3]), _vals(spark, [4, 5, 6]), "value"
    ).first()
    assert row["u_stat"] == 9.0
    assert row["n_ref"] == 3 and row["n_cur"] == 3
    z = 4.5 / math.sqrt(5.25)
    assert abs(row["z"] - z) < 1e-12
    p = math.erfc(z / math.sqrt(2.0))  # two-sided, independent impl
    assert abs(row["p_approx"] - p) < 2e-6  # A&S polynomial tolerance


def test_mannw_with_ties_hand_computed(spark):
    # ref=[1,2,2], cur=[2,3,3]: midranks 1, 3 (t=3), 5.5 (t=2);
    # R_cur = 3 + 11 = 14, U = 14 - 6 = 8; tie_term = 24+6 = 30;
    # var = 9/12 * (7 - 30/30) = 4.5; z = 3.5/sqrt(4.5)
    row = mannwhitney_u(
        _vals(spark, [1, 2, 2]), _vals(spark, [2, 3, 3]), "value"
    ).first()
    assert row["u_stat"] == 8.0
    assert abs(row["z"] - 3.5 / math.sqrt(4.5)) < 1e-12


def test_mannw_all_tied_reports_p_one(spark):
    row = mannwhitney_u(
        _vals(spark, [5, 5, 5]), _vals(spark, [5, 5]), "value"
    ).first()
    assert row["p_approx"] == 1.0 and row["z"] == 0.0


# -- binned distances -------------------------------------------------------


def test_hellinger_and_tvd_bounds(spark):
    same = _vals(spark, [1, 2, 3, 11, 12])
    h = hellinger(same, same, "value", 10.0).first()["hellinger"]
    t = tvd(same, same, "value", 10.0).first()["tvd"]
    assert h == 0.0 and t == 0.0
    # disjoint bins: both distances are exactly 1
    lo = _vals(spark, [1, 2, 3])
    hi = _vals(spark, [101, 102])
    assert hellinger(lo, hi, "value", 10.0).first()["hellinger"] == (
        pytest.approx(1.0, abs=1e-12)
    )
    assert tvd(lo, hi, "value", 10.0).first()["tvd"] == pytest.approx(
        1.0, abs=1e-12
    )


def test_tvd_hand_computed(spark):
    # ref: bins {0: 2/4, 1: 2/4}; cur: bins {0: 3/4, 1: 1/4}
    # TVD = 0.5*(|.5-.75| + |.5-.25|) = 0.25
    ref = _vals(spark, [1, 2, 11, 12])
    cur = _vals(spark, [1, 2, 3, 11])
    assert tvd(ref, cur, "value", 10.0).first()["tvd"] == pytest.approx(
        0.25, abs=1e-12
    )


# -- energy distance --------------------------------------------------------


def test_energy_identical_is_zero(spark):
    s = _vals(spark, [1, 5, 9, 13])
    assert energy_distance(s, s, "value").first()["energy"] == 0.0


def test_energy_point_masses_hand_computed(spark):
    # ref all 0, cur all 1: (F-G)^2 = 1 on [0,1) -> E = sqrt(2)
    ref = _vals(spark, [0, 0, 0])
    cur = _vals(spark, [1, 1])
    assert energy_distance(ref, cur, "value").first()[
        "energy"
    ] == pytest.approx(math.sqrt(2.0), abs=1e-12)


def test_energy_two_step_hand_computed(spark):
    # ref={0,2}, cur={1,3}: F-G = 1/2 on [0,1), 0 on [1,2) (both CDFs
    # at 1/2), 1/2 on [2,3) -> integral of (F-G)^2 = 1/2 -> E = 1.0
    ref = _vals(spark, [0, 2])
    cur = _vals(spark, [1, 3])
    assert energy_distance(ref, cur, "value").first()[
        "energy"
    ] == pytest.approx(1.0, abs=1e-12)


# -- dispatcher -------------------------------------------------------------


def test_drift_statistic_dispatch_new_methods(spark):
    ref = _vals(spark, [1, 2, 3, 11])
    cur = _vals(spark, [2, 3, 12, 13])
    assert "hellinger" in drift_statistic(
        ref, cur, "value", "hellinger"
    ).columns
    assert "tvd" in drift_statistic(ref, cur, "value", "tvd").columns
    assert "energy" in drift_statistic(ref, cur, "value", "energy").columns
    assert "p_approx" in drift_statistic(
        ref, cur, "value", "mannw"
    ).columns
    with pytest.raises(ValueError, match="unknown drift method"):
        drift_statistic(ref, cur, "value", "nope")


# -- average precision ------------------------------------------------------


def _scored(spark, rows):
    return spark.createDataFrame(rows, "churn int, proba double")


def test_auc_pr_perfect_separation(spark):
    df = _scored(spark, [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)])
    assert auc_pr(df).first()["auc_pr"] == pytest.approx(1.0, abs=1e-12)


def test_auc_pr_hand_computed(spark):
    # scores desc 0.9(+), 0.8(-), 0.7(+): AP = 1/2*1 + 1/2*(2/3) = 5/6
    df = _scored(spark, [(1, 0.9), (0, 0.8), (1, 0.7)])
    assert auc_pr(df).first()["auc_pr"] == pytest.approx(5.0 / 6.0, abs=1e-12)


def test_auc_pr_ties_share_threshold(spark):
    # tied scores form ONE threshold: 0.5: {+,-} -> tp=1 fp=1;
    # AP = (1/2)*(1/2) + (1/2)*(2/4) = 0.5
    df = _scored(
        spark, [(1, 0.5), (0, 0.5), (1, 0.3), (0, 0.3)]
    )
    assert auc_pr(df).first()["auc_pr"] == pytest.approx(0.5, abs=1e-12)


# -- windowed binned panel: statistic-swappable finisher --------------------


def test_stat_from_binned_matches_direct_stats(spark):
    from churn_model_evaluation_platform_spark.operators.drift import (
        binned_ref_counts,
        js_divergence,
        stat_from_binned,
    )

    ref = _vals(spark, [1, 2, 3, 11, 12, 31])
    cur = _vals(spark, [2, 3, 12, 13, 25, 26])
    # single-window cur bins: all rows share one window_start
    cur_bins = (
        binned_ref_counts(cur, {"value": 10.0})
        .withColumnRenamed("n_ref", "n_cur")
        .select(F.lit("2024-01-01").alias("window_start"), "column", "bin", "n_cur")
    )
    ref_bins = binned_ref_counts(ref, {"value": 10.0})
    for method, direct in (
        ("hellinger", hellinger(ref, cur, "value", 10.0).first()["hellinger"]),
        ("tvd", tvd(ref, cur, "value", 10.0).first()["tvd"]),
        ("js", js_divergence(ref, cur, "value", 10.0).first()["js"]),
    ):
        row = stat_from_binned(ref_bins, cur_bins, method=method).first()
        assert row[method] == pytest.approx(direct, abs=1e-6), method
    with pytest.raises(ValueError, match="unknown binned drift method"):
        stat_from_binned(ref_bins, cur_bins, method="ks")


# -- categorical (bin_width=None) -------------------------------------------


def test_categorical_counts_key_by_raw_string(spark):
    from churn_model_evaluation_platform_spark.operators.drift import (
        _binned_counts,
        chi2_drift,
    )

    ref = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "value string"
    )
    cur = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",)], "value string"
    )
    counts = {
        r["bin"]: (r["n_ref"], r["n_cur"])
        for r in _binned_counts(ref, cur, "value", None).collect()
    }
    assert counts == {"a": (2, 1), "b": (1, 2), "c": (0, 1)}
    row = chi2_drift(ref, cur, "value", bin_width=None).first()
    assert row["dof"] == 2  # 3 categories - 1
    assert row["chi2"] > 0


def test_categorical_tvd_hand_computed(spark):
    from churn_model_evaluation_platform_spark.operators.drift import tvd

    ref = spark.createDataFrame([("a",)] * 3 + [("b",)], "value string")
    cur = spark.createDataFrame([("a",)] + [("b",)] * 3, "value string")
    # p = (3/4, 1/4), q = (1/4, 3/4): TVD = 0.5*(0.5+0.5) = 0.5
    assert tvd(ref, cur, "value", bin_width=None).first()[
        "tvd"
    ] == pytest.approx(0.5, abs=1e-12)


def test_hellinger_tvd_finite_on_empty_side(spark):
    """r9 review: an empty/all-null side must yield a FINITE
    zero-measure statistic (clamped totals), never a NULL a monitoring
    threshold silently ignores."""
    from churn_model_evaluation_platform_spark.operators.drift import (
        hellinger,
        js_divergence,
        psi,
        tvd,
    )

    empty = spark.createDataFrame([], "value double")
    cur = _vals(spark, [1, 2, 11])
    h = hellinger(empty, cur, "value", 10.0).first()["hellinger"]
    t = tvd(empty, cur, "value", 10.0).first()["tvd"]
    assert h is not None and t is not None
    assert h == pytest.approx(math.sqrt(0.5), abs=1e-12)  # sum q = 1
    assert t == pytest.approx(0.5, abs=1e-12)
    # q = (2/3, 1/3) against p = 0 floored at epsilon = 1e-6
    want_psi = sum((q - 1e-6) * math.log(q / 1e-6) for q in (2 / 3, 1 / 3))
    assert psi(empty, cur, "value", 10.0).first()["psi"] == pytest.approx(
        want_psi, abs=1e-9
    )
    # m = q / 2 on every bin: JS = 0.5 * KL(q || q/2) = 0.5 * ln 2
    assert js_divergence(empty, cur, "value", 10.0).first()[
        "js"
    ] == pytest.approx(0.5 * math.log(2.0), abs=1e-12)
