"""Spans around the benchmark's calls into the program's layers.

A ``Tracer`` wraps each call in a span (name, layer, start, end, parent),
runs it under its own Spark job group so the status tracker can list the
jobs and tasks it launched, and, when the call returns a DataFrame that the
span collects, walks the executed plan for the SQL metrics Spark keeps on
each node. Streaming progress records are attached by the workload. All of
it stays in memory until ``dump`` writes it once at the end of the run.

``NoTrace`` has the same interface and does nothing but the call itself; the
end-to-end run uses it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# SQL metric name -> key in a span's "plan" totals. Units as Spark keeps
# them: timings in ms, sizes in bytes.
PLAN_METRICS = {
    "pythonTotalTime": "python_ms",
    "pythonDataSent": "python_sent_bytes",
    "pythonDataReceived": "python_received_bytes",
    "shuffleBytesWritten": "shuffle_bytes",
    "fetchWaitTime": "fetch_wait_ms",
}


class NoTrace:
    enabled = False

    def collect(self, layer: str, name: str, make_df):
        return make_df().collect()

    def call(self, layer: str, name: str, fn):
        return fn()

    @contextmanager
    def span(self, layer: str, name: str):
        yield {}


def plan_totals(df) -> dict:
    """Sum the PLAN_METRICS over every node of ``df``'s executed plan,
    descending through AdaptiveSparkPlanExec and its query stages."""
    totals = {k: 0 for k in PLAN_METRICS.values()}
    totals["python_nodes"] = 0
    totals["exchanges"] = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue  # its metrics live on the exchange it reuses
        metrics = node.metrics()
        for sql_name, key in PLAN_METRICS.items():
            opt = metrics.get(sql_name)
            if opt.isDefined():
                totals[key] += int(opt.get().value())
        if metrics.get("pythonTotalTime").isDefined():
            totals["python_nodes"] += 1
        if metrics.get("shuffleBytesWritten").isDefined():
            totals["exchanges"] += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return totals


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.streaming: dict[str, list[dict]] = {}
        self._stack: list[tuple[str, str]] = []  # (span id, job description)
        self._next = 0

    def _jobs(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numCompletedTasks if sinfo else 0
        return len(jobs), tasks

    @contextmanager
    def span(self, layer: str, name: str):
        sid = f"s{self._next}"
        self._next += 1
        rec = {"id": sid, "parent": self._stack[-1][0] if self._stack else None,
               "layer": layer, "name": name,
               "start": time.perf_counter() - self.t0}
        self._stack.append((sid, f"{layer}.{name}"))
        self.sc.setJobGroup(sid, f"{layer}.{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"], rec["tasks"] = self._jobs(sid)
            self.spans.append(rec)

    def collect(self, layer: str, name: str, make_df):
        """Build the DataFrame and collect it inside one span."""
        with self.span(layer, name) as rec:
            df = make_df()
            rows = df.collect()
            rec["plan"] = plan_totals(df)
        return rows

    def call(self, layer: str, name: str, fn):
        with self.span(layer, name):
            return fn()

    def add_progress(self, query: str, progress: list[dict]) -> None:
        self.streaming.setdefault(query, []).extend(progress)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "streaming": self.streaming} | extra, f)
