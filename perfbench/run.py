#!/usr/bin/env python3
"""Churn-monitoring benchmark: drop → metrics → dashboard, driven from
outside the program.

    python3 perfbench/run.py --workload drops_small --seed 1 --seconds 30 --trace 0

Each workload runs the deployed path of the engine in two phases. First
a continuously running ``streaming.monitor.monitoring_stream`` scores
seeded CSV drops with ``ml.training.predict`` (the model loaded by alias
from ``LocalModelRegistry``), writes predictions, routes malformed drops
to ``errored_dir`` and appends each drop's metrics to a date-partitioned
store. Then a dashboard client appends metric rows to that store and
refreshes every panel through ``operators.metrics``. Every drop and
refresh is checked against a recomputation outside Spark (``check.py``).

The run prints a table of every metric (name, value, unit, samples) and,
as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``, a separate run that wraps each layer's public
functions and reads Spark's own counters). Inputs are generated from the
seed and cached under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import stats  # noqa: E402

MODEL_SEED = 0
MODEL_NAME = "churn"
MODEL_ALIAS = "production"
SETUP_REPS = 3
# Nominal length of the dashboard phase (three appends, one refresh); the
# rest of ``--seconds`` goes to drops.
DASHBOARD_NOMINAL_S = 10.0
POLL_S = 0.02
# Every wait ends by this many seconds after start, so a stalled run still
# reports (its missing drops counted as failed) well inside three minutes.
RUN_DEADLINE_S = 140.0

# One uploader lands a drop, waits until its metrics land, then lands the
# next (a closed loop: an open loop at half the monitor's capacity
# overloaded whenever the host's CPU steal rose). On 4 cores the seed
# commit took about 5 s per 1,050-row drop and 20 s per 300k-row drop.
# The drop count comes from ``--seconds`` and the nominal cycle time, so
# every run takes the same samples.
WORKLOADS = {
    "drops_small": {
        "drops": "small",
        "cycle_s": 5.0,
        "history_runs": 60,
        "why": "1,050-row drops, 1 in 5 malformed and 1 in 5 drifted, then "
        "dashboard appends and refreshes: per-file fixed cost dominates",
    },
    "drops_large": {
        "drops": "large",
        "cycle_s": 20.0,
        "history_runs": 60,
        "why": "300k-row drops, then dashboard appends and refreshes: data "
        "work dominates; customer_value takes the prefix-sum drift path",
    },
}

# Dashboard panels: four score tiles, one time series per other panel,
# and the latest-per-metric table — 21 queries per refresh.
TILES = ["f1score", "precision", "recall", "accuracy"]
SERIES = (
    [f"valuedrift_{c}" for c in gen.FEATURES]
    + ["driftedcolumnscount[count]", "driftedcolumnscount[share]"]
    + ["f1bylabel_0", "f1bylabel_1", "recallbylabel_1"]
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "drop_latency_p50_s": "s",
    "monitor_rows_per_s": "1/s",
    "refresh_p50_s": "s",
    "panel_query_p50_ms": "ms",
    "append_p50_s": "s",
}


def configure_env() -> None:
    """Engine settings every run shares; all scratch stays in the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Model: trained once per checkout from a fixed seed, in its own process, so
# every measured process starts the same way whether or not it was cached.


def model_dir() -> str:
    return os.path.join(WORK, "cache", f"model-seed{MODEL_SEED}")


def ensure_model() -> str:
    path = model_dir()
    if not os.path.exists(os.path.join(path, "READY")):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-model"],
            check=True,
            stdout=sys.stderr,
            timeout=600,
        )
    return path


def build_model() -> None:
    from churn_model_evaluation_platform_spark.ml.registry import LocalModelRegistry
    from churn_model_evaluation_platform_spark.ml.training import fit_pipeline
    from churn_model_evaluation_platform_spark.operators.prep import prepare
    from churn_model_evaluation_platform_spark.schema import RAW_CHURN_SCHEMA
    from churn_model_evaluation_platform_spark.session import get_spark

    path = model_dir()
    tmp = f"{path}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    train_csv = os.path.join(tmp, "train.csv")
    gen.write_train(MODEL_SEED, train_csv)
    spark = get_spark(extra_conf=spark_conf())
    try:
        train = prepare(
            spark.read.schema(RAW_CHURN_SCHEMA).option("header", True).csv(train_csv)
        ).cache()
        tm = fit_pipeline(train, max_iter=20)
        reg = LocalModelRegistry(spark, os.path.join(tmp, "registry"))
        version = reg.register(
            tm.model,
            MODEL_NAME,
            calibrator=tm.calibrator,
            threshold=tm.threshold,
            feature_cols=tm.feature_cols,
            reference_df=train.drop("churn"),
        )
        reg.set_alias(MODEL_NAME, MODEL_ALIAS, version)
    finally:
        stop_spark(spark)
    open(os.path.join(tmp, "READY"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------


def read_source_files(ckpt: str, batch_id: int) -> list[str]:
    """Files the file source assigned to a batch, from its metadata log."""
    base = os.path.join(ckpt, "sources", "0", str(batch_id))
    for path in (base, f"{base}.compact"):
        if os.path.exists(path):
            with open(path) as f:
                lines = f.read().splitlines()[1:]
            entries = [json.loads(ln) for ln in lines if ln.strip()]
            return [e["path"] for e in entries if e.get("batchId", batch_id) == batch_id]
    return []


def file_count(root: str) -> int:
    return sum(
        1
        for _, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def peak_rss_mb(jvm_pid: int | None) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.spec = WORKLOADS[workload]
        self.trace = trace
        self.inputs = os.path.join(WORK, "cache", f"{workload}-seed{seed}")
        self.manifest = gen.generate(
            seed, self.inputs, self.spec["drops"], self.spec["history_runs"]
        )
        self.dir = os.path.join(WORK, "run")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("input", "staging"):
            os.makedirs(os.path.join(self.dir, sub))
        self.store = os.path.join(self.dir, "metrics")
        shutil.copytree(os.path.join(self.inputs, "store"), self.store)
        self.predictions = os.path.join(self.dir, "predictions")
        self.errored = os.path.join(self.dir, "errored")
        self.alert_log = os.path.join(self.dir, "alerts.jsonl")
        self.alerts: list[tuple[int, str, str]] = []
        self.landed: dict[str, dict] = {}
        self.batches = []
        self.batch_by_file: dict = {}
        self.refreshes: list[dict] = []
        self.appends: list[dict] = []
        self.setup: dict[str, float] = {}
        self.spark = self.query = self.tracer = self.listener = None
        self.jvm_pid = None
        self.deadline = time.time() + RUN_DEADLINE_S

    # -- program calls ------------------------------------------------------

    def span(self, name: str, job_group: bool = False):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, job_group)

    def load_model(self):
        from churn_model_evaluation_platform_spark.ml.registry import LocalModelRegistry
        from churn_model_evaluation_platform_spark.ml.training import TrainedModel

        reg = LocalModelRegistry(self.spark, os.path.join(model_dir(), "registry"))
        version = reg.resolve(MODEL_NAME, MODEL_ALIAS)
        model, calibrator, meta = reg.load(MODEL_NAME, version=version)
        tm = TrainedModel(model, calibrator, meta["threshold"], float("nan"), meta["feature_cols"])
        return tm, reg.load_reference(MODEL_NAME, version)

    def start_stream(self, tm, reference, ckpt: str):
        from churn_model_evaluation_platform_spark.ml.training import predict
        from churn_model_evaluation_platform_spark.schema import NUMERICAL_COLUMNS, RAW_CHURN_SCHEMA
        from churn_model_evaluation_platform_spark.sources.alerts import file_alert_sink
        from churn_model_evaluation_platform_spark.streaming.monitor import monitoring_stream

        to_file = file_alert_sink(self.alert_log)

        def sink(subject: str, message: str) -> None:
            self.alerts.append((time.time_ns(), subject, message))
            to_file(subject, message)

        def score(batch):
            with self.span("score.plan"):
                return predict(tm, batch)

        self.ckpt = ckpt
        return monitoring_stream(
            self.spark,
            os.path.join(self.dir, "input"),
            RAW_CHURN_SCHEMA,
            reference,
            NUMERICAL_COLUMNS,
            score,
            self.store,
            ckpt,
            predictions_path=self.predictions,
            errored_dir=self.errored,
            alert_sink=sink,
            available_now=False,
            partition_metrics_by_date=True,
        )

    def refresh(self, every_panel: bool = True) -> dict:
        """One dashboard refresh: re-list the store, then every panel (or
        one of each query shape, to warm them up)."""
        from churn_model_evaluation_platform_spark.operators import metrics as m

        spark = self.spark
        panels = (
            [("tile", n, lambda n=n: m.latest_metric_value(spark, n)) for n in TILES]
            + [("series", n, lambda n=n: m.metric_timeseries(spark, n)) for n in SERIES]
            + [("table", None, lambda: m.latest_per_metric(spark.table(m.METRICS_TABLE)))]
        )
        if not every_panel:
            panels = [panels[0], panels[len(TILES)], panels[-1]]
        span_of = {
            "tile": "metrics.latest_value",
            "series": "metrics.timeseries",
            "table": "metrics.latest_per_metric",
        }
        rec = {"start_ns": time.time_ns(), "queries_ms": [], "tiles": {}, "series_rows": {}}
        t0 = time.perf_counter()
        with self.span("metrics.refresh", job_group=True) as whole:
            with self.span("metrics.register_view"):
                m.register_metrics_view(spark, self.store)
            for kind, name, query in panels:
                q = time.perf_counter()
                with self.span(span_of[kind]):
                    rows = query().collect()
                rec["queries_ms"].append((time.perf_counter() - q) * 1e3)
                if kind == "tile":
                    rec["tiles"][name] = rows[0]["value"] if rows else None
                elif kind == "series":
                    rec["series_rows"][name] = len(rows)
                else:
                    rec["latest_per_metric"] = {r["metric_name"]: r["value"] for r in rows}
        rec["refresh_s"] = time.perf_counter() - t0
        rec["end_ns"] = time.time_ns()
        if whole is not None:
            rec["input_mb"] = whole["input_mb"]
        return rec

    # -- drops ----------------------------------------------------------------

    def stage(self, k: int | None) -> str:
        """Copy the k-th measured drop (None: the warm-up drop) into the
        staging folder, beside the watched one."""
        if k is None:
            entry, name = self.manifest["warmup"], "w-warmup.csv"
        else:
            drops = self.manifest["drops"]
            entry = drops[k % len(drops)]
            name = f"d{k:05d}-{entry['file']}"
        shutil.copyfile(
            os.path.join(self.inputs, entry["file"]), os.path.join(self.dir, "staging", name)
        )
        self.landed[name] = {
            "csv": os.path.join(self.inputs, entry["file"]),
            "kind": entry["kind"],
            "rows": entry["rows"],
        }
        return name

    def land(self, name: str, measured: bool) -> None:
        """Move a staged drop into the watched folder in one rename."""
        os.rename(os.path.join(self.dir, "staging", name), os.path.join(self.dir, "input", name))
        self.landed[name].update(landed=time.time(), measured=measured)

    def poll(self) -> list:
        """Newly committed micro-batches, in batch order."""
        from check import Batch

        commits = os.path.join(self.ckpt, "commits")
        try:
            ids = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
        except FileNotFoundError:
            return []
        new = []
        for i in ids[len(self.batches):]:
            files = [os.path.basename(p) for p in read_source_files(self.ckpt, i)]
            b = Batch(
                i,
                files,
                os.stat(os.path.join(self.ckpt, "offsets", str(i))).st_mtime_ns,
                os.stat(os.path.join(commits, str(i))).st_mtime_ns,
            )
            self.batches.append(b)
            for f in files:
                self.batch_by_file[f] = b
            new.append(b)
        return new

    def wait_for(self, names: list[str]) -> bool:
        """Poll until every named drop's micro-batch committed."""
        while True:
            self.poll()
            if all(n in self.batch_by_file for n in names):
                return True
            if time.time() > self.deadline:
                return False
            time.sleep(POLL_S)

    # -- phases ---------------------------------------------------------------

    def append(self, k: int) -> dict:
        """The dashboard client appends the k-th generated run's metric
        rows, stamped with the append time as the monitor stamps its own."""
        from churn_model_evaluation_platform_spark.operators import metrics as m

        rows = pq.read_table(os.path.join(self.inputs, self.manifest["appends"][k])).to_pylist()
        df = m.with_created_at(self.spark.createDataFrame(rows, "metric_name string, value double"))
        t = time.perf_counter()
        with self.span("metrics.append"):
            m.append_metrics(df, self.store, partition_by_date=True)
        return {
            "append_s": time.perf_counter() - t,
            "values": {r["metric_name"]: r["value"] for r in rows},
        }

    def run_setup(self) -> None:
        t0 = time.perf_counter()
        from churn_model_evaluation_platform_spark.session import get_spark

        self.spark = get_spark(extra_conf=spark_conf())
        self.setup["session_s"] = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            self.install_tracing()
        loads = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            tm, reference = self.load_model()
            loads.append(time.perf_counter() - t)
        self.setup["model_load_s"] = stats.median(loads)
        self.load_reps_s = [round(x, 3) for x in loads]
        t = time.perf_counter()
        self.query = self.start_stream(tm, reference, os.path.join(self.dir, "ckpt"))
        self.setup["stream_start_s"] = time.perf_counter() - t
        # Warm-up: one untimed small drop, with one client append and one
        # query of each dashboard shape beside it.
        t = time.perf_counter()
        name = self.stage(None)
        self.land(name, measured=False)
        self.append(0)
        self.refresh(every_panel=False)
        if not self.wait_for([name]):
            raise RuntimeError("the warm-up drop never committed")
        self.setup["warmup_s"] = time.perf_counter() - t
        self.setup["setup_s"] = sum(self.setup.values())

    def measure(self, seconds: float) -> None:
        """Two closed-loop phases, one after the other, so neither slows
        the other's numbers. Drops: land one, wait until its metrics land,
        land the next. Dashboard: append three runs' metric rows, one
        after another, then refresh every panel."""
        from tracing import spark_totals

        self.files_before = file_count(self.store)
        self.t_measure = time.time()
        self.counters_before = spark_totals(self.spark) if self.trace else None
        drops = max(1, round((seconds - DASHBOARD_NOMINAL_S) / self.spec["cycle_s"]))
        name = self.stage(0)
        for k in range(drops):
            self.land(name, measured=True)
            nxt = self.stage(k + 1) if k + 1 < drops else None
            if not self.wait_for([name]):
                break  # counted as failed: its metrics never landed
            name = nxt
        self.counters_after = spark_totals(self.spark) if self.trace else None
        n = len(self.manifest["appends"])
        self.appends = [self.append(k) for k in range(1, n)]
        self.refreshes.append(
            {**self.refresh(), "values": self.appends[-1]["values"], "appends_before": n}
        )
        self.files_after = file_count(self.store)

    def close(self) -> None:
        if self.spark is None:
            return
        self.peak_rss_mb = peak_rss_mb(self.jvm_pid)
        if self.query is not None:
            self.query.stop()
        if self.tracer is not None:
            self.tracer.unwrap()
        stop_spark(self.spark)

    # -- tracing --------------------------------------------------------------

    def install_tracing(self) -> None:
        import churn_model_evaluation_platform_spark.plans.pipeline as pipe
        import churn_model_evaluation_platform_spark.streaming.monitor as mon
        from churn_model_evaluation_platform_spark.operators.drift import WINDOWED_MAX_DISTINCT
        from tracing import ProgressListener, Tracer

        tr = self.tracer = Tracer(self.spark)
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

        def rejected(rec, v):
            rec["rejected"] = not v.ok

        def routes(rec, est):
            rec["prefix"] = sum(1 for n in est.values() if n > WINDOWED_MAX_DISTINCT)
            rec["windowed"] = len(est) - rec["prefix"]

        tr.wrap(mon, "prepare", "prep.prepare")
        tr.wrap(mon, "validate_schema_containment", "prep.validate", on_result=rejected)
        tr.wrap(mon, "monitoring_run", "pipeline.monitoring_run", job_group=True)
        tr.wrap(mon, "append_metrics", "metrics.append")
        tr.wrap(pipe, "estimate_distinct_counts", "drift.estimate_distinct", on_result=routes)
        tr.wrap(pipe, "assess_data_drift", "drift.assess")
        tr.wrap(pipe, "assess_prediction_scores", "drift.assess")
        tr.wrap(pipe, "classification_scores", "quality.plan")
        tr.wrap(pipe, "per_label_scores", "quality.plan")

    # -- results --------------------------------------------------------------

    def check(self, ops: stats.OpCounter) -> None:
        import check

        reference = check.read_reference(
            os.path.join(model_dir(), "registry", "models", MODEL_NAME, "v1", "reference"),
            gen.FEATURES,
        )
        landed = {n: d for n, d in self.landed.items() if "landed" in d}
        errors, runs = check.check_drops(
            self.batches,
            landed,
            self.store,
            gen.HISTORY_SUFFIX,
            self.predictions,
            self.errored,
            self.alerts,
            reference,
            gen.FEATURES,
            gen.CLEAN,
        )
        for name in sorted(landed):
            ops.record([f"{name}: {e}" for e in errors.get(name, ["never checked"])])
        for rec in self.refreshes:
            ops.record(self.check_refresh(rec, runs))

    def check_refresh(self, rec: dict, runs: dict) -> list[str]:
        """Every tile and the latest-per-metric table must show the run the
        client appended just before; every time series must hold the
        history, each landed drop's run and each client append."""
        want = rec["values"]
        errs = [
            f"tile {name} shows {got!r}, not the last value appended {want[name]!r}"
            for name, got in rec["tiles"].items()
            if got != want[name]
        ]
        if rec["latest_per_metric"] != want:
            errs.append("latest_per_metric differs from the last run appended")
        n = self.spec["history_runs"] + len(runs) + rec["appends_before"]
        wrong = {k: c for k, c in rec["series_rows"].items() if c != n}
        if wrong:
            errs.append(f"time series rows {wrong}, expected {n}")
        return errs

    def measured_drops(self) -> list[tuple[dict, object]]:
        """(drop, batch) of each measured drop whose metrics landed;
        malformed drops are routed, not measured."""
        return [
            (d, self.batch_by_file[n])
            for n, d in sorted(self.landed.items())
            if d.get("measured") and d["kind"] != "malformed" and n in self.batch_by_file
        ]

    def samples(self) -> dict[str, list[float]]:
        """Every measured sample, by kind."""
        drops = self.measured_drops()
        refreshes = self.refreshes
        return {
            "drop_latency_s": [b.end_ns / 1e9 - d["landed"] for d, b in drops],
            "batch_s": [(b.end_ns - b.start_ns) / 1e9 for _, b in drops],
            "batch_rows": [d["rows"] for d, _ in drops],
            "refresh_s": [r["refresh_s"] for r in refreshes],
            "panel_query_ms": [q for r in refreshes for q in r["queries_ms"]],
            "append_s": [a["append_s"] for a in self.appends],
        }

    def end_to_end(self) -> dict[str, tuple[float, int]]:
        """Metric → (value, samples)."""
        s = self.samples()
        queries = s["panel_query_ms"]
        return {
            "setup_s": (self.setup["setup_s"], SETUP_REPS),
            "drop_latency_p50_s": (stats.median(s["drop_latency_s"]), len(s["drop_latency_s"])),
            "monitor_rows_per_s": (sum(s["batch_rows"]) / sum(s["batch_s"]), len(s["batch_s"])),
            "refresh_p50_s": (stats.median(s["refresh_s"]), len(s["refresh_s"])),
            "panel_query_p50_ms": (stats.median(queries), len(queries)),
            "append_p50_s": (stats.median(s["append_s"]), len(s["append_s"])),
        }

    def extras(self) -> dict[str, object]:
        """Reported beside the metrics: the tail percentile each sample
        supports, and how set-up time splits."""
        s = self.samples()

        def tail(values: list[float]) -> str:
            t = stats.tail(values)
            if t is None:
                return f"n/a (needs >= 20 samples, have {len(values)})"
            return f"{t[1]}={t[0]:.4f} over {len(values)} samples"

        return {
            "drop_latency_tail_s": tail(s["drop_latency_s"]),
            "panel_query_tail_ms": tail(s["panel_query_ms"]),
            # Not a metric: the JVM's heap growth moves it by 20-30% run to run.
            "peak_rss_mb": round(self.peak_rss_mb, 1),
            "model_load_reps_s": self.load_reps_s,
            **{k: v for k, v in self.setup.items() if k != "setup_s"},
        }

    def per_layer(self) -> dict[str, tuple[float, int]]:
        from tracing import delta

        t0 = self.t_measure
        in_window = [s for s in self.tracer.spans if s["start"] >= t0 and "end" in s]

        def spans(name):
            return [s for s in in_window if s["name"] == name]

        def mean_s(name):
            d = [s["end"] - s["start"] for s in spans(name)]
            return (sum(d) / len(d) if d else 0.0), len(d)

        runs = spans("pipeline.monitoring_run")
        n_runs = max(len(runs), 1)

        def per_run(name):
            ss = spans(name)
            return sum(s["end"] - s["start"] for s in ss) / n_runs, len(ss)

        drops = self.measured_drops()
        measured_ids = {b.batch_id for _, b in drops}
        progress = [p for p in self.listener.progress if p[0] in measured_ids]

        def progress_mean(*keys):
            vals = [sum(p[1].get(k, 0) for k in keys) / 1e3 for p in progress]
            return (sum(vals) / len(vals) if vals else 0.0), len(vals)

        waits = [(b.start_ns / 1e9 - d["landed"]) for d, b in drops]
        counters = delta(self.counters_after, self.counters_before)
        cycles = max(len(drops), 1)
        est = spans("drift.estimate_distinct")
        refreshes = self.refreshes
        appends = spans("metrics.append")
        validations = spans("prep.validate")
        n_queries = sum(len(r["queries_ms"]) for r in refreshes)
        return {
            "streaming.batches": (float(len(progress)), len(progress)),
            "streaming.batch_s": progress_mean("triggerExecution"),
            "streaming.add_batch_s": progress_mean("addBatch"),
            "streaming.offsets_s": progress_mean("latestOffset", "getBatch", "walCommit"),
            "streaming.commit_s": progress_mean("commitOffsets"),
            "streaming.queue_wait_s": (sum(waits) / len(waits) if waits else 0.0, len(waits)),
            "pipeline.monitoring_run_s": mean_s("pipeline.monitoring_run"),
            "pipeline.jobs_per_run": (sum(s.get("jobs", 0) for s in runs) / n_runs, len(runs)),
            "pipeline.tasks_per_run": (sum(s.get("tasks", 0) for s in runs) / n_runs, len(runs)),
            "spark.jobs": (counters["jobs"] / cycles, cycles),
            "spark.tasks": (counters["tasks"] / cycles, cycles),
            "spark.failed_tasks": (counters["failed_tasks"], cycles),
            "spark.gc_s": (counters["gc_s"] / cycles, cycles),
            "spark.shuffle_write_mb": (counters["shuffle_write_mb"] / cycles, cycles),
            "spark.input_mb": (counters["input_mb"] / cycles, cycles),
            "drift.estimate_distinct_s": per_run("drift.estimate_distinct"),
            "drift.assess_s": per_run("drift.assess"),
            "drift.prefix_sum_columns": (sum(s["prefix"] for s in est) / n_runs, len(est)),
            "drift.windowed_columns": (sum(s["windowed"] for s in est) / n_runs, len(est)),
            "quality.plan_s": per_run("quality.plan"),
            "score.plan_s": mean_s("score.plan"),
            "prep.prepare_plan_s": mean_s("prep.prepare"),
            "prep.validate_rejects": (
                float(sum(1 for s in validations if s.get("rejected"))),
                len(validations),
            ),
            "metrics.register_view_s": mean_s("metrics.register_view"),
            "metrics.latest_value_s": mean_s("metrics.latest_value"),
            "metrics.timeseries_s": mean_s("metrics.timeseries"),
            "metrics.latest_per_metric_s": mean_s("metrics.latest_per_metric"),
            "metrics.input_mb_per_query": (
                sum(r.get("input_mb", 0.0) for r in refreshes) / max(n_queries, 1),
                n_queries,
            ),
            "metrics.store_files": (float(self.files_after), 1),
            "metrics.append_s": mean_s("metrics.append"),
            "metrics.files_per_append": (
                (self.files_after - self.files_before) / max(len(appends), 1),
                len(appends),
            ),
            "alerts.sent": (
                float(sum(1 for t, _, _ in self.alerts if t >= t0 * 1e9)),
                len(self.alerts),
            ),
            "session.start_s": (self.setup["session_s"], 1),
            "training.model_load_s": (self.setup["model_load_s"], SETUP_REPS),
        }


COUNT_METRICS = {
    "streaming.batches",
    "pipeline.jobs_per_run",
    "pipeline.tasks_per_run",
    "spark.jobs",
    "spark.tasks",
    "spark.failed_tasks",
    "drift.prefix_sum_columns",
    "drift.windowed_columns",
    "prep.validate_rejects",
    "metrics.store_files",
    "metrics.files_per_append",
    "alerts.sent",
}


def unit_of(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name in COUNT_METRICS:
        return "count"
    return "MB" if "_mb" in name else "s"


def save_result(workload: str, seed: int, trace: bool, record: dict) -> dict | None:
    """Keep this run's numbers; return the opposite-mode run of the same
    workload and seed, if one was kept, for the tracing-overhead lines."""
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    other = os.path.join(out, f"{workload}-seed{seed}-trace{int(not trace)}.json")
    if os.path.exists(other):
        with open(other) as f:
            return json.load(f)
    return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-model", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    configure_env()
    try:
        import churn_model_evaluation_platform_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.build_model:
        build_model()
        return 0
    if args.workload is None:
        p.error("--workload is required")

    load_start = os.getloadavg()[0]
    clock = [time.perf_counter()]
    phases: dict[str, float] = {}

    def lap(phase: str) -> None:
        clock.append(time.perf_counter())
        phases[phase] = round(clock[-1] - clock[-2], 3)

    ensure_model()
    cpu_start = cpu_times()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    lap("inputs")
    try:
        bench.run_setup()
        lap("setup")
        bench.measure(args.seconds)
        lap("measure")
    finally:
        bench.close()
    lap("close")
    cpu = [b - a for a, b in zip(cpu_start, cpu_times())]

    ops = stats.OpCounter()
    bench.check(ops)
    lap("check")
    e2e = bench.end_to_end()
    metrics = bench.per_layer() if args.trace else e2e
    facts = {
        "workload": args.workload,
        "why": WORKLOADS[args.workload]["why"],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_at_start": load_start,
        "cpu_steal_share": cpu[7] / max(sum(cpu), 1),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "failed_ratio": ops.failed_ratio,
        "phase_s": phases,
        **bench.extras(),
    }
    other = save_result(
        args.workload,
        args.seed,
        bool(args.trace),
        {
            "facts": facts,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "samples": bench.samples(),
        },
    )
    if bench.tracer is not None:
        bench.tracer.dump(
            os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-spans.jsonl")
        )

    for k, v in facts.items():
        print(f"# {k}: {v}")
    for reason in ops.failures:
        print(f"# FAILED: {reason}")
    if args.trace:
        print("# lazy layers (prep, score, quality) report plan-construction time only;")
        print("# their Spark work lands in the first eager span that consumes them.")
    print(f"{'metric':34s} {'value':>14s}  {'unit':6s} samples")
    for name, (value, n) in metrics.items():
        print(f"{name:34s} {value:14.4f}  {unit_of(name):6s} {n}")
    if other is not None:
        for name in END_TO_END_UNITS.keys() & other["end_to_end"].keys():
            diff = e2e[name][0] - other["end_to_end"][name]
            if not args.trace:
                diff = -diff
            print(f"# tracing overhead {name} (traced - untraced): {diff:+.4f} {unit_of(name)}")
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {
                    name: {"value": value, "unit": unit_of(name)}
                    for name, (value, _) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
