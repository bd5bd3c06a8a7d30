"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def _header(path) -> list[str]:
    with open(path) as f:
        return f.readline().rstrip("\n").split(",")


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root) for d, _, names in os.walk(root) for n in names
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(7, a, "small", 5)
    gen.generate(7, b, "small", 5)
    gen.generate(8, c, "small", 5)
    files = _tree(a)
    assert files == _tree(b)
    assert "manifest.json" in files and "warmup.csv" in files
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(os.path.join(a, "drop-0001.csv"), os.path.join(c, "drop-0001.csv"), False)


def test_generated_drops_have_the_expected_shape(tmp_path):
    manifest = gen.generate(3, str(tmp_path), "small", 2)
    kinds = [d["kind"] for d in manifest["drops"]]
    assert kinds.count("malformed") == len(kinds) // 5
    assert kinds.count("drifted") == len(kinds) // 5
    assert _header(tmp_path / "drop-0001.csv") == gen.RAW_HEADER
    malformed = _header(tmp_path / "drop-0000.csv")
    assert gen.MALFORMED_DROPS_COLUMN not in malformed and len(malformed) == 13
    cols = check.read_drop_csv(str(tmp_path / "drop-0001.csv"), gen.CLEAN)
    assert 0.08 < cols["churn"].mean() < 0.25


@pytest.mark.parametrize(
    "n, label",
    [(19, None), (20, "p50"), (39, "p50"), (40, "p75"), (99, "p75"), (100, "p90"), (200, "p95")],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, label):
    got = stats.tail([float(i) for i in range(n)])
    if label is None:
        assert got is None
    else:
        assert got[1] == label
        pm = stats.tail_permille(n)
        assert stats.samples_beyond(n, pm) >= stats.MIN_BEYOND


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.median(xs) == 2.5
    assert stats.percentile(xs, 75.0) == 3.25


def test_failure_counting():
    ops = stats.OpCounter()
    assert ops.record([]) is True
    assert ops.record(["tile f1score shows 0.5"]) is False
    assert ops.record([]) is True
    assert (ops.attempted, ops.failed) == (3, 1)
    assert ops.failed_ratio == pytest.approx(1 / 3)
    assert "f1score" in ops.failures[0]


# -- the correctness check on one landed drop, built by hand -----------------

T0 = 1_700_000_000_000_000_000  # ns


def _write_parquet(root: str, table: pa.Table, mtime_ns: int) -> None:
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"part-00000-{uuid.uuid4()}-c000.zstd.parquet")
    pq.write_table(table, path)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def _landed_drop(tmp_path, corrupt: str | None = None):
    """One drop landed by a fake monitor: predictions, metric rows and
    alerts exactly as the recomputation expects, except ``corrupt``."""
    gen.generate(5, str(tmp_path / "in"), "small", 1)
    csv = str(tmp_path / "in" / "drop-0001.csv")
    cur = check.read_drop_csv(csv, gen.CLEAN)
    ref = {c: v[::2] for c, v in check.read_drop_csv(
        str(tmp_path / "in" / "warmup.csv"), gen.CLEAN).items()}
    churn = cur["churn"].astype("int64")
    pred = churn.copy()
    pred[:40] = 1 - pred[:40]
    _write_parquet(
        str(tmp_path / "preds"), pa.table({"churn": churn, "churn_prediction": pred}), T0 + 100
    )
    tp = int(((churn == 1) & (pred == 1)).sum())
    fp = int(((churn == 0) & (pred == 1)).sum())
    fn = int(((churn == 1) & (pred == 0)).sum())
    tn = int(((churn == 0) & (pred == 0)).sum())
    drift = check.expected_drift(ref, cur, gen.FEATURES)
    n_drift = float(sum(1 for v in drift.values() if v < check.P_DRIFT))
    values = {
        **check.scores_from_counts(tp, fp, fn, tn),
        **drift,
        "driftedcolumnscount[count]": n_drift,
        "driftedcolumnscount[share]": n_drift / len(drift),
    }
    expected_alerts = check.predicted_alerts(values, len(gen.FEATURES))
    if corrupt is not None:
        values[corrupt] += 0.01
    created = dt.datetime.fromtimestamp((T0 + 200) / 1e9, dt.timezone.utc)
    _write_parquet(
        str(tmp_path / "store" / "metric_date=2023-11-14"),
        pa.table({
            "metric_name": list(values),
            "value": pa.array(list(values.values()), pa.float64()),
            "created_at": pa.array([created] * len(values), pa.timestamp("us", tz="UTC")),
        }),
        T0 + 300,
    )
    batch = check.Batch(0, ["d00000-drop-0001.csv"], T0, T0 + 1_000_000)
    errors, runs = check.check_drops(
        [batch],
        {"d00000-drop-0001.csv": {"csv": csv, "kind": "normal", "rows": len(churn)}},
        str(tmp_path / "store"),
        gen.HISTORY_SUFFIX,
        str(tmp_path / "preds"),
        str(tmp_path / "errored"),
        [(T0 + 400, subject, "") for subject in expected_alerts],
        ref,
        gen.FEATURES,
        gen.CLEAN,
    )
    return errors["d00000-drop-0001.csv"], runs


def test_check_accepts_a_correct_landing(tmp_path):
    errors, runs = _landed_drop(tmp_path)
    assert errors == []
    assert set(runs) == {0}


@pytest.mark.parametrize("metric", ["f1score", "recallbylabel_0", "valuedrift_customer_value"])
def test_check_rejects_one_corrupted_metric_row(tmp_path, metric):
    errors, _ = _landed_drop(tmp_path, corrupt=metric)
    assert any(e.startswith(f"{metric}:") for e in errors), errors


def test_ks_matches_a_hand_computed_statistic():
    import numpy as np

    d, p = check.ks_2samp(np.array([1.0, 2.0, 3.0, 4.0]), np.array([3.0, 4.0, 5.0, 6.0]))
    assert d == 0.5
    assert 0.0 < p < 1.0


def _check_malformed(tmp_path, audit: bool, committed: bool = True):
    errored = tmp_path / "errored"
    name = "d00000-drop-0000.csv"
    if audit:
        os.makedirs(errored / "_logs")
        (errored / "_logs" / f"{name}.log").write_text(
            "input does not match expected structure: missing frequency_of_sms\n"
        )
    batches = [check.Batch(0, [name], T0, T0 + 1_000)] if committed else []
    errors, _ = check.check_drops(
        batches,
        {name: {"csv": "unused.csv", "kind": "malformed", "rows": 1050}},
        str(tmp_path / "store"),
        gen.HISTORY_SUFFIX,
        str(tmp_path / "preds"),
        str(errored),
        [(T0 + 500, check.INVALID_SUBJECT, "")],
        {},
        gen.FEATURES,
        gen.CLEAN,
    )
    return errors[name]


def test_a_correctly_routed_malformed_drop_is_a_success(tmp_path):
    assert _check_malformed(tmp_path, audit=True) == []


def test_a_malformed_drop_without_its_audit_line_fails(tmp_path):
    assert _check_malformed(tmp_path, audit=False) == ["no audit line in errored_dir"]


def test_a_drop_that_never_committed_fails(tmp_path):
    ops = stats.OpCounter()
    ops.record(_check_malformed(tmp_path, audit=True, committed=False))
    assert (ops.attempted, ops.failed) == (1, 1)
    assert "never landed" in ops.failures[0]
