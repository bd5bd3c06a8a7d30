"""Seeded input generator for the churn-monitoring benchmark.

Everything a workload feeds the program is a file written here, from the
workload seed alone: churn CSV drops with the raw 14-column header of the
reference's input files, the metrics-store history the dashboard reads,
and the metric rows the dashboard client appends. The same seed gives byte-identical files (numpy's PCG64 streams,
pyarrow writers with fixed options). The model's training set comes from
a fixed seed; ``run.py`` trains and registers the model once per checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Raw header of the reference's input files, in file order (FIXTURES F1).
RAW_HEADER = [
    "Call  Failure",
    "Complains",
    "Subscription  Length",
    "Charge  Amount",
    "Seconds of Use",
    "Frequency of use",
    "Frequency of SMS",
    "Distinct Called Numbers",
    "Age Group",
    "Tariff Plan",
    "Status",
    "Age",
    "Customer Value",
    "Churn",
]
CLEAN = [
    "call_failure",
    "complains",
    "subscription_length",
    "charge_amount",
    "seconds_of_use",
    "frequency_of_use",
    "frequency_of_sms",
    "distinct_called_numbers",
    "age_group",
    "tariff_plan",
    "status",
    "age",
    "customer_value",
    "churn",
]
FEATURES = [c for c in CLEAN if c not in ("tariff_plan", "age", "churn")]
# The column a malformed drop lacks (header and data).
MALFORMED_DROPS_COLUMN = "Frequency of SMS"

SMALL_ROWS = 1050
LARGE_ROWS = 300_000
TRAIN_ROWS = 4000
SMALL_DISTINCT = 40  # distinct small drops; the open loop cycles through them
LARGE_DISTINCT = 2
HISTORY_DAYS = 60
HISTORY_SUFFIX = "-hist.zstd.parquet"
CLIENT_APPENDS = 4  # runs the dashboard client appends: one to warm up, three measured

# Small-drop kinds by position in a block of five: 20% malformed, 20%
# drifted. Large drops alternate normal and drifted.
MALFORMED_SLOTS = (0,)
DRIFTED_SLOTS = (3,)

# Metric names one monitoring run appends (plans/pipeline.py).
SCORE_METRICS = ["accuracy", "precision", "recall", "f1score"]
PER_LABEL_METRICS = [
    f"{m}bylabel_{lbl}" for lbl in (1, 0) for m in ("precision", "recall", "f1")
]
RUN_METRICS = (
    SCORE_METRICS
    + PER_LABEL_METRICS
    + [f"valuedrift_{c}" for c in FEATURES]
    + ["driftedcolumnscount[count]", "driftedcolumnscount[share]"]
)

_STREAMS = {"train": 1, "small": 2, "large": 3, "history": 4, "warmup": 5}


def rng_for(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    """One independent PCG64 stream per (seed, artifact, index), so an
    artifact never depends on which others were generated first."""
    return np.random.Generator(np.random.PCG64([seed, _STREAMS[stream], index]))


def drop_kind(i: int, large: bool = False) -> str:
    if large:
        return ("normal", "drifted")[i % 2]
    slot = i % 5
    if slot in MALFORMED_SLOTS:
        return "malformed"
    if slot in DRIFTED_SLOTS:
        return "drifted"
    return "normal"


def churn_columns(
    rng: np.random.Generator, n: int, drifted: bool = False, value_decimals: int = 2
) -> dict[str, np.ndarray]:
    """Synthetic churn rows in the F1 value ranges with ~16% positives.
    ``drifted`` shifts/scales 8 of the 11 features (FIXTURES F6)."""

    def clip_int(x, lo, hi):
        return np.clip(np.rint(x), lo, hi).astype(np.int64)

    call_failure = clip_int(rng.poisson(7.5, n), 0, 31)
    complains = (rng.random(n) < 0.08).astype(np.int64)
    sub_len = clip_int(rng.normal(32, 8.5, n), 3, 45)
    charge = clip_int(rng.poisson(0.9, n), 0, 10)
    seconds = clip_int(rng.gamma(1.6, 2700, n), 0, 16785)
    freq_use = clip_int(seconds / 65 + rng.normal(0, 12, n), 0, 249)
    freq_sms = clip_int(rng.gamma(0.7, 105, n), 0, 515)
    called = clip_int(rng.poisson(23, n), 0, 95)
    age_group = rng.choice(np.arange(1, 6), n, p=[0.03, 0.48, 0.31, 0.12, 0.06])
    tariff = np.where(rng.random(n) < 0.92, 1, 2).astype(np.int64)
    status = np.where(rng.random(n) < 0.76, 1, 2).astype(np.int64)
    age = np.array([15, 25, 30, 45, 55])[age_group - 1]
    z = (
        -2.55
        + 3.0 * complains
        + 1.9 * (status == 2)
        + 0.11 * (call_failure - 7.5)
        - 0.06 * (sub_len - 32)
        - 0.00035 * (seconds - 4300)
        + rng.logistic(0, 0.6, n)
    )
    churn = (z > 0).astype(np.int64)
    if drifted:
        call_failure = np.clip(call_failure + 5, 0, 31)
        sub_len = np.clip(sub_len - 9, 3, 45)
        charge = np.clip(charge + 2, 0, 10)
        seconds = np.clip(np.rint(seconds * 1.7), 0, 16785).astype(np.int64)
        freq_use = np.clip(np.rint(freq_use * 1.5), 0, 249).astype(np.int64)
        freq_sms = np.clip(np.rint(freq_sms * 1.9), 0, 515).astype(np.int64)
        called = np.clip(called + 11, 0, 95)
    value = np.clip(
        0.045 * seconds + 1.4 * freq_sms + 2.1 * freq_use + rng.normal(0, 35, n),
        0.0,
        2165.28,
    )
    if drifted:
        value = np.clip(value * 1.6, 0.0, 2165.28)
    value = np.round(value, value_decimals)
    return dict(
        zip(
            CLEAN,
            [call_failure, complains, sub_len, charge, seconds, freq_use, freq_sms,
             called, age_group, tariff, status, age, value, churn],
        )
    )


def write_churn_csv(
    path: str, cols: dict[str, np.ndarray], drop_column: str | None = None
) -> None:
    names, arrays = [], []
    for raw, clean in zip(RAW_HEADER, CLEAN):
        if raw == drop_column:
            continue
        names.append(raw)
        arrays.append(pa.array(cols[clean]))
    tmp = f"{path}.tmp"
    # pyarrow quotes header names whatever the quoting style; the raw
    # files carry them bare, so the header line is written here.
    with open(tmp, "wb") as f:
        f.write((",".join(names) + "\n").encode())
        pacsv.write_csv(
            pa.Table.from_arrays(arrays, names=names),
            f,
            pacsv.WriteOptions(include_header=False, quoting_style="none"),
        )
    os.replace(tmp, path)


def history_run(seed: int, run: int, created_at: dt.datetime | None) -> pa.Table:
    """One monitoring run's metric rows: plausible scores and p-values
    under the names a monitoring run appends; no ``created_at`` column
    when ``created_at`` is None (the appender stamps it)."""
    rng = rng_for(seed, "history", run)
    scores = np.round(rng.uniform(0.72, 0.96, len(SCORE_METRICS) + len(PER_LABEL_METRICS)), 6)
    pvals = np.round(rng.uniform(0.0, 1.0, len(FEATURES)), 6)
    drifted = float((pvals < 0.05).sum())
    values = list(scores) + list(pvals) + [drifted, drifted / len(FEATURES)]
    columns = {"metric_name": pa.array(RUN_METRICS), "value": pa.array(values, pa.float64())}
    if created_at is not None:
        columns["created_at"] = pa.array(
            [created_at] * len(RUN_METRICS), pa.timestamp("us", tz="UTC")
        )
    return pa.table(columns)


HISTORY_START = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def write_history(seed: int, store: str, runs: int) -> int:
    """``runs`` one-run parquet files spread over HISTORY_DAYS
    ``metric_date=`` partitions, the layout
    ``append_metrics(partition_by_date=True)`` leaves. Returns the count."""
    os.makedirs(store, exist_ok=True)
    span = HISTORY_DAYS * 86400
    for run in range(runs):
        created = HISTORY_START + dt.timedelta(seconds=int(run * span / runs) + run % 7)
        part = os.path.join(store, f"metric_date={created.date().isoformat()}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(
            history_run(seed, run, created),
            os.path.join(part, f"part-{run:05d}{HISTORY_SUFFIX}"),
            compression="zstd",
        )
    return runs


def generate(seed: int, root: str, drops: str, history_runs: int) -> dict:
    """Write one workload's inputs under ``root`` (skipped when its
    manifest already exists) and return the manifest: one small warm-up
    drop, the distinct measured drops (``drops`` is ``small`` or
    ``large``) and a metrics-store history of ``history_runs`` one-run
    files."""
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp_root = f"{root}.partial"
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(tmp_root)
    large = drops == "large"
    count, rows = (LARGE_DISTINCT, LARGE_ROWS) if large else (SMALL_DISTINCT, SMALL_ROWS)
    write_churn_csv(
        os.path.join(tmp_root, "warmup.csv"),
        churn_columns(rng_for(seed, "warmup"), SMALL_ROWS),
    )
    entries = []
    for i in range(count):
        kind = drop_kind(i, large)
        cols = churn_columns(
            rng_for(seed, drops, i),
            rows,
            drifted=kind == "drifted",
            value_decimals=6 if large else 2,
        )
        name = f"drop-{i:04d}.csv"
        write_churn_csv(
            os.path.join(tmp_root, name),
            cols,
            drop_column=MALFORMED_DROPS_COLUMN if kind == "malformed" else None,
        )
        entries.append({"file": name, "kind": kind, "rows": rows})
    appends = []
    for i in range(CLIENT_APPENDS):
        name = f"append-{i}.parquet"
        pq.write_table(history_run(seed, history_runs + i, None), os.path.join(tmp_root, name))
        appends.append(name)
    manifest = {
        "seed": seed,
        "warmup": {"file": "warmup.csv", "kind": "normal", "rows": SMALL_ROWS},
        "drops": entries,
        "store_files": write_history(seed, os.path.join(tmp_root, "store"), history_runs),
        "appends": appends,
    }
    with open(os.path.join(tmp_root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp_root, root)
    return manifest


def write_train(seed: int, path: str) -> None:
    """The model's training set (non-drifted, reference-sized x4)."""
    write_churn_csv(path, churn_columns(rng_for(seed, "train"), TRAIN_ROWS))
