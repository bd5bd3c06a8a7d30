"""Correctness checks, recomputed outside Spark.

Every landed drop is checked against an independent recomputation:

- its confusion-matrix scores, recomputed with DuckDB from the
  predictions the monitor wrote, must equal the stored metric rows
  exactly (same IEEE expression order as ``operators/quality.py``);
- each column's KS p-value, recomputed with numpy from the generated CSV
  against the reference snapshot, must match within ``KS_TOL``;
- the alerts fired during its micro-batch must equal the alerts these
  recomputed values predict;
- a malformed drop must produce no metrics, an audit line in
  ``errored_dir/_logs`` and an invalid-input alert.

Attribution is by time: a micro-batch writes its WAL offset file before
it starts and its commit file after it ends, and batches run one at a
time, so every file, metric row and alert stamped inside that interval
belongs to that batch.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

KS_TOL = 1e-9
KS_SERIES_TERMS = 100
P_DRIFT = 0.05
DRIFT_SHARE = 0.5
SCORE_FLOOR = 0.70
SCORE_NAMES = ("accuracy", "precision", "recall", "f1score")
DRIFT_SUBJECT = "Data drift detected"
SCORES_SUBJECT = "Prediction scores below threshold"
INVALID_SUBJECT = "Invalid input file"


@dataclass
class Batch:
    batch_id: int
    files: list[str]
    start_ns: int  # mtime of the WAL offsets file
    end_ns: int  # mtime of the commit file

    def holds(self, t_ns: int) -> bool:
        return self.start_ns <= t_ns <= self.end_ns


@dataclass
class LandedRun:
    """Metric rows of one append (one micro-batch), keyed by name."""

    created_us: int
    values: dict[str, float] = field(default_factory=dict)


def _div(num: float, den: float) -> float:
    return 0.0 if den == 0 else num / den


def scores_from_counts(tp: int, fp: int, fn: int, tn: int) -> dict[str, float]:
    """Overall and per-label scores with the engine's expression order."""
    n = tp + fp + fn + tn

    def prf(t, f_pos, f_neg):
        p = _div(float(t), float(t + f_pos))
        r = _div(float(t), float(t + f_neg))
        return p, r, _div(2.0 * p * r, p + r)

    p1, r1, f1 = prf(tp, fp, fn)
    p0, r0, f0 = prf(tn, fn, fp)
    return {
        "accuracy": _div(float(tp + tn), float(n)),
        "precision": p1,
        "recall": r1,
        "f1score": f1,
        "precisionbylabel_1": p1,
        "recallbylabel_1": r1,
        "f1bylabel_1": f1,
        "precisionbylabel_0": p0,
        "recallbylabel_0": r0,
        "f1bylabel_0": f0,
    }


def prediction_counts(files: list[str]) -> tuple[int, int, int, int, int]:
    """(tp, fp, fn, tn, n) over written prediction files, by DuckDB."""
    con = duckdb.connect()
    try:
        row = con.execute(
            """
            SELECT
              count(*) FILTER (WHERE churn = 1 AND churn_prediction = 1),
              count(*) FILTER (WHERE churn <> 1 AND churn_prediction = 1),
              count(*) FILTER (WHERE churn = 1 AND churn_prediction <> 1),
              count(*) FILTER (WHERE churn <> 1 AND churn_prediction <> 1),
              count(*)
            FROM read_parquet(?)
            """,
            [files],
        ).fetchone()
    finally:
        con.close()
    return tuple(int(v) for v in row)


def ks_pvalue(d: float, n: int, m: int) -> float:
    """Asymptotic two-sided KS p-value, summed in the engine's order."""
    en = math.sqrt(float(n) * float(m) / float(n + m))
    lam = (en + 0.12 + 0.11 / en) * d
    if lam < 1e-8:
        return 1.0
    acc = 0.0
    for k in range(1, KS_SERIES_TERMS + 1):
        acc = acc + (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
    return min(max(2.0 * acc, 0.0), 1.0)


def ks_2samp(ref: np.ndarray, cur: np.ndarray) -> tuple[float, float]:
    """(statistic, p-value): the largest ECDF gap over all pooled values."""
    ref = np.sort(ref[~np.isnan(ref)])
    cur = np.sort(cur[~np.isnan(cur)])
    grid = np.unique(np.concatenate([ref, cur]))
    cdf_r = np.searchsorted(ref, grid, side="right") / float(len(ref))
    cdf_c = np.searchsorted(cur, grid, side="right") / float(len(cur))
    d = float(np.max(np.abs(cdf_r - cdf_c)))
    return d, ks_pvalue(d, len(ref), len(cur))


def read_reference(ref_dir: str, columns: list[str]) -> dict[str, np.ndarray]:
    table = pq.read_table(ref_dir, columns=columns)
    return {c: table[c].to_numpy().astype(np.float64) for c in columns}


def read_drop_csv(path: str, clean_names: list[str]) -> dict[str, np.ndarray]:
    """A generated drop, columns renamed positionally to clean names."""
    table = pacsv.read_csv(path)
    return {
        name: table.column(i).to_numpy().astype(np.float64)
        for i, name in enumerate(clean_names)
    }


def expected_drift(
    ref: dict[str, np.ndarray], cur: dict[str, np.ndarray], features: list[str]
) -> dict[str, float]:
    return {f"valuedrift_{c}": ks_2samp(ref[c], cur[c])[1] for c in features}


def predicted_alerts(values: dict[str, float], n_features: int) -> list[str]:
    drifted = sum(
        1 for k, v in values.items() if k.startswith("valuedrift_") and v < P_DRIFT
    )
    out = []
    if drifted / n_features > DRIFT_SHARE:
        out.append(DRIFT_SUBJECT)
    if any(values[n] < SCORE_FLOOR for n in SCORE_NAMES):
        out.append(SCORES_SUBJECT)
    return out


def near_alert_edge(values: dict[str, float], tol: float = 1e-6) -> bool:
    """True when a recomputed value sits so close to an alert threshold
    that float noise could flip the predicted alert."""
    return any(
        abs(v - (P_DRIFT if k.startswith("valuedrift_") else SCORE_FLOOR)) < tol
        for k, v in values.items()
        if k.startswith("valuedrift_") or k in SCORE_NAMES
    )


def compare_run(
    stored: dict[str, float],
    scores: dict[str, float],
    drift: dict[str, float],
) -> list[str]:
    """Errors of one landed run against its recomputation."""
    errors = []
    for name, want in scores.items():
        got = stored.get(name)
        if got != want:
            errors.append(f"{name}: stored {got!r}, recomputed {want!r}")
    for name, want in drift.items():
        got = stored.get(name)
        if got is None or abs(got - want) > KS_TOL:
            errors.append(f"{name}: stored {got!r}, recomputed {want!r}")
    n_drift = float(sum(1 for v in drift.values() if v < P_DRIFT))
    for name, want in (
        ("driftedcolumnscount[count]", n_drift),
        ("driftedcolumnscount[share]", n_drift / len(drift)),
    ):
        if stored.get(name) != want:
            errors.append(f"{name}: stored {stored.get(name)!r}, recomputed {want!r}")
    return errors


def read_landed_runs(files: list[str]) -> list[LandedRun]:
    """Appended metric rows grouped by their append timestamp."""
    if not files:
        return []
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT epoch_us(created_at), metric_name, value FROM read_parquet(?)",
            [files],
        ).fetchall()
    finally:
        con.close()
    runs: dict[int, LandedRun] = {}
    for ts, name, value in rows:
        runs.setdefault(int(ts), LandedRun(int(ts))).values[name] = float(value)
    return sorted(runs.values(), key=lambda r: r.created_us)


_WRITE_ID = re.compile(r"part-\d+-([0-9a-f-]{36})")


def written_groups(root: str, skip_suffix: str | None = None) -> list[tuple[int, list[str]]]:
    """Parquet files under ``root`` grouped by the write job that made
    them, as (latest mtime ns, files)."""
    groups: dict[str, list[str]] = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            if skip_suffix and name.endswith(skip_suffix):
                continue
            m = _WRITE_ID.search(name)
            groups.setdefault(m.group(1) if m else name, []).append(
                os.path.join(dirpath, name)
            )
    return sorted(
        (max(os.stat(f).st_mtime_ns for f in fs), sorted(fs)) for fs in groups.values()
    )


def batch_of(batches: list[Batch], t_ns: int) -> Batch | None:
    for b in batches:
        if b.holds(t_ns):
            return b
    return None


def check_drops(
    batches: list[Batch],
    landed: dict[str, dict],
    store_dir: str,
    history_suffix: str,
    predictions_dir: str,
    errored_dir: str,
    alerts: list[tuple[int, str, str]],
    reference: dict[str, np.ndarray],
    features: list[str],
    clean_names: list[str],
) -> tuple[dict[str, list[str]], dict[int, LandedRun]]:
    """Check every landed drop. ``landed`` maps the landed file name to
    ``{"csv": generated file, "kind": normal|drifted|malformed}``;
    ``alerts`` holds (time ns, subject, message). Returns errors per
    landed file name and the stored run of each batch."""
    runs_by_batch: dict[int, LandedRun] = {}
    for run in read_landed_runs(
        [f for _, fs in written_groups(store_dir, history_suffix) for f in fs]
    ):
        b = batch_of(batches, run.created_us * 1000)
        if b is not None:
            runs_by_batch[b.batch_id] = run
    preds_by_batch: dict[int, list[str]] = {}
    for t_ns, files in written_groups(predictions_dir):
        b = batch_of(batches, t_ns)
        if b is not None:
            preds_by_batch.setdefault(b.batch_id, []).extend(files)
    alerts_by_batch: dict[int, list[str]] = {}
    for t_ns, subject, _ in alerts:
        b = batch_of(batches, t_ns)
        if b is not None:
            alerts_by_batch.setdefault(b.batch_id, []).append(subject)

    drift_cache: dict[str, dict[str, float]] = {}
    batch_by_file = {os.path.basename(f): b for b in batches for f in b.files}
    errors: dict[str, list[str]] = {}
    for name, info in landed.items():
        errs: list[str] = []
        b = batch_by_file.get(name)
        if b is None:
            errors[name] = ["metrics never landed (no committed micro-batch)"]
            continue
        if len(b.files) != 1:
            errs.append(f"micro-batch {b.batch_id} held {len(b.files)} files")
        got_alerts = sorted(alerts_by_batch.get(b.batch_id, []))
        if info["kind"] == "malformed":
            log = os.path.join(errored_dir, "_logs", f"{name}.log")
            if not os.path.exists(log):
                errs.append("no audit line in errored_dir")
            else:
                with open(log) as f:
                    if "does not match expected structure" not in f.read():
                        errs.append("audit line lacks the validation error")
            if b.batch_id in runs_by_batch:
                errs.append("malformed drop produced metric rows")
            if got_alerts != [INVALID_SUBJECT]:
                errs.append(f"alerts {got_alerts}, expected [{INVALID_SUBJECT!r}]")
            errors[name] = errs
            continue
        run = runs_by_batch.get(b.batch_id)
        preds = preds_by_batch.get(b.batch_id)
        if run is None or not preds:
            errors[name] = errs + ["metrics or predictions never landed"]
            continue
        tp, fp, fn, tn, n = prediction_counts(preds)
        if n != info["rows"]:
            errs.append(f"predictions hold {n} rows, drop had {info['rows']}")
        scores = scores_from_counts(tp, fp, fn, tn)
        if info["csv"] not in drift_cache:
            cur = read_drop_csv(info["csv"], clean_names)
            drift_cache[info["csv"]] = expected_drift(reference, cur, features)
        drift = drift_cache[info["csv"]]
        errs += compare_run(run.values, scores, drift)
        expected = {**scores, **drift}
        if not near_alert_edge(expected):
            want = sorted(predicted_alerts(expected, len(features)))
            if got_alerts != want:
                errs.append(f"alerts {got_alerts}, expected {want}")
        errors[name] = errs
    return errors, runs_by_batch
