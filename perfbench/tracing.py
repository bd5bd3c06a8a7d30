"""Traced-run instrumentation, all from outside the program.

- ``Tracer.span`` records in-memory spans (name, start, end, parent);
  ``Tracer.wrap`` replaces a layer's public function, in the namespace
  its caller looks it up from, by one that records a span around it.
- ``spark_totals`` reads Spark's own status store (``executorList``
  and the job list) so counters are deltas around a window.
- ``ProgressListener`` keeps each micro-batch's progress durations.

Lazy layers (prep, score, quality, value_drift) only build plans; a
wrapper around them measures plan construction. Their Spark work runs
inside the first eager span that consumes them (``estimate_distinct``,
``assess``, the predictions write, the metrics append).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._groups = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        """Record a span; with ``job_group`` also count the Spark jobs,
        tasks and input bytes it ran, by job group (set on this thread
        only, so work other threads run at the same time is not counted)."""
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "parent": stack[-1] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        sc = self.spark.sparkContext
        group = prev = None
        if job_group:
            with self._lock:
                self._groups += 1
                group = f"perfbench-{name}-{self._groups}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                rec["jobs"], rec["tasks"], rec["input_mb"] = group_totals(sc, group)

    def wrap(self, module, attr: str, name: str, job_group: bool = False, on_result=None):
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, job_group) as rec:
                out = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_totals(sc, group: str) -> tuple[int, int, float]:
    """(jobs, tasks, input MB) of one job group."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    tasks, input_bytes = 0, 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
            try:
                input_bytes += store.lastStageAttempt(s).inputBytes()
            except Py4JJavaError:  # a stage the status store no longer holds
                pass
    return len(jobs), tasks, input_bytes / 1e6


def spark_totals(spark) -> dict[str, float]:
    """Cumulative counters of the application's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict(tasks=0.0, failed_tasks=0.0, gc_s=0.0, input_mb=0.0, shuffle_write_mb=0.0)
    it = store.executorList(True).iterator()
    while it.hasNext():
        e = it.next()
        out["tasks"] += e.totalTasks()
        out["failed_tasks"] += e.failedTasks()
        out["gc_s"] += e.totalGCTime() / 1000.0
        out["input_mb"] += e.totalInputBytes() / 1e6
        out["shuffle_write_mb"] += e.totalShuffleWrite() / 1e6
    jobs = store.jobsList(None)
    it = jobs.iterator()
    max_job = -1
    while it.hasNext():
        max_job = max(max_job, it.next().jobId())
    out["jobs"] = float(max_job + 1)
    return out


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


class ProgressListener(StreamingQueryListener):
    """Keeps ``(batch id, durationMs, input rows)`` of every batch."""

    def __init__(self) -> None:
        self.progress: list[tuple[int, dict, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            self.progress.append((p.batchId, dict(p.durationMs), p.numInputRows))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
