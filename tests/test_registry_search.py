"""The tuning loop (``tune_model_tpe``): best of history, and the same
trial parameters under the same seed."""

from __future__ import annotations

import pytest

from churn_model_evaluation_platform_spark.ml.tpe import tune_model_tpe


@pytest.fixture(scope="module")
def train_df(spark):
    # Learnable toy problem: label depends on two features.
    import random

    rng = random.Random(3)
    from churn_model_evaluation_platform_spark.schema import NUMERICAL_COLUMNS

    rows = []
    for _ in range(200):
        feats = [rng.uniform(0, 10) for _ in NUMERICAL_COLUMNS]
        label = int(feats[0] + feats[1] > 10)
        rows.append(tuple(feats) + (label,))
    return spark.createDataFrame(rows, NUMERICAL_COLUMNS + ["churn"])


def test_random_search_returns_best_of_history(train_df):
    best, best_f1, hist = tune_model_tpe(train_df, n_trials=2, k=2)
    assert len(hist) == 2
    assert best_f1 == max(f1 for _, f1 in hist)
    assert best in [p for p, _ in hist]
    assert 0.0 <= best_f1 <= 1.0
    assert set(best) == {"max_depth", "max_iter", "step_size"}


def test_random_search_deterministic_params(train_df):
    _, _, h1 = tune_model_tpe(train_df, n_trials=2, k=2, seed=7)
    _, _, h2 = tune_model_tpe(train_df, n_trials=2, k=2, seed=7)
    assert [p for p, _ in h1] == [p for p, _ in h2]
