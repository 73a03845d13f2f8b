"""Stdlib reader for uncompressed Spark event logs.

Spark 4 writes one JSON event per line, either as one file or (rolling
logs, the default) as a directory of ``events_<n>_<app>`` files.  The
reader keeps what layer attribution needs:

* every SQL metric the plans declare (``SparkListenerSQLExecutionStart``
  and the adaptive re-plans), keyed by accumulator id, with the plan node
  it belongs to;
* the updates to those metrics from tasks and from the driver;
* jobs (submission time, stages), and per task its duration, CPU time,
  GC time and spilled bytes.

``EventLog.window(t0, t1)`` aggregates everything that started inside a
wall-clock window: the benchmark runs one traced call at a time, so the
span around a call is the window of the jobs it caused.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def event_files(path: str) -> list[str]:
    """The event-log files under ``path`` (a file, a rolling-log
    directory, or a directory holding either), in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith("events_"):
                found.append((int(name.split("_")[1]), os.path.join(dirpath, name)))
            elif not name.startswith((".", "appstatus")):
                found.append((0, os.path.join(dirpath, name)))
    return [f for _, f in sorted(found)]


def read_events(path: str):
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


class EventLog:
    def __init__(self, events) -> None:
        # accumulator id -> (execution id, node name, metric name, metric type, node text)
        self.metric: dict[int, tuple] = {}
        self.value: dict[int, float] = defaultdict(float)
        self.exec_time: dict[int, float] = {}
        self.jobs: list[dict] = []
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> tasks
        for e in events:
            kind = e.get("Event")
            if kind == _SQL_START:
                self.exec_time[e["executionId"]] = e["time"] / 1000.0
                self._declare(e["executionId"], e["sparkPlanInfo"])
            elif kind == _SQL_ADAPTIVE:
                self._declare(e["executionId"], e["sparkPlanInfo"])
            elif kind == _DRIVER_ACCUM:
                for acc_id, upd in e["accumUpdates"]:
                    self.value[acc_id] += float(upd)
            elif kind == "SparkListenerJobStart":
                job = {
                    "id": e["Job ID"],
                    "t": e["Submission Time"] / 1000.0,
                    "stages": list(e["Stage IDs"]),
                }
                self.jobs.append(job)
                for s in job["stages"]:
                    self.stage_job.setdefault(s, job["id"])
            elif kind == "SparkListenerTaskEnd":
                self._task(e)

    def _declare(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            self.metric[m["accumulatorId"]] = (
                exec_id,
                node["nodeName"].strip(),
                m["name"],
                m["metricType"],
                node.get("simpleString", ""),
            )
        for child in node.get("children", []):
            self._declare(exec_id, child)

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                self.value[acc["ID"]] += float(acc["Update"])
        tm = e.get("Task Metrics") or {}
        self.tasks[e["Stage ID"]].append(
            {
                "ms": info["Finish Time"] - info["Launch Time"],
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            }
        )

    def window(self, t0: float, t1: float) -> "Window":
        """Everything whose SQL execution or job started in [t0, t1]
        (epoch seconds)."""
        execs = {x for x, t in self.exec_time.items() if t0 <= t <= t1}
        jobs = [j for j in self.jobs if t0 <= j["t"] <= t1]
        stages = {s for j in jobs for s in j["stages"] if self.stage_job.get(s) == j["id"]}
        metrics: dict[tuple, float] = defaultdict(float)
        for acc_id, (x, node, name, mtype, text) in self.metric.items():
            if x in execs and acc_id in self.value:
                v = self.value[acc_id]
                metrics[(node, name, text)] += v / 1e6 if mtype == "nsTiming" else v
        return Window(metrics, len(jobs), {s: self.tasks.get(s, []) for s in stages})


class Window:
    def __init__(self, metrics: dict, n_jobs: int, stage_tasks: dict) -> None:
        self.metrics = metrics
        self.jobs = n_jobs
        self.stage_tasks = stage_tasks

    def sum(self, node_prefix: str | tuple, name: str, text_has: str = "") -> float:
        """Sum of one metric over the plan nodes whose name starts with
        ``node_prefix`` and whose plan text contains ``text_has``."""
        return sum(
            v
            for (node, metric, text), v in self.metrics.items()
            if node.startswith(node_prefix) and metric == name and text_has in text
        )

    def tasks(self) -> list[dict]:
        return [t for ts in self.stage_tasks.values() for t in ts]

    def skew(self) -> float:
        """Max over median task time in the stage with the most task time
        (the stage that sets the op's time); 1.0 for a single task."""
        busy = [ts for ts in self.stage_tasks.values() if ts]
        if not busy:
            return 0.0
        top = max(busy, key=lambda ts: sum(t["ms"] for t in ts))
        med = statistics.median(t["ms"] for t in top)
        return max(t["ms"] for t in top) / med if med > 0 else 1.0


def layer_counts(w: Window) -> dict:
    """The per-layer counts an event-log window yields (units in README)."""
    # "time to initialize Python workers" is left out: it is not bounded
    # by the task's own time (it sums to several times the op's CPU time)
    py = ("time to run Python workers", "time to start Python workers")
    tasks = w.tasks()
    # stage-1 candidates leave the node that applies the cell-range test,
    # a join condition or a filter after the join
    candidates = w.sum(("Filter", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"),
                       "number of output rows", "rmin")
    pairs = w.sum("MapInPandas", "number of output rows")
    return {
        "scan.rows": w.sum("Scan parquet", "number of output rows"),
        "scan.bytes": w.sum("Scan parquet", "size of files read"),
        "cover.python_ms": sum(w.sum("ArrowEvalPython", m) for m in py),
        "cover.arrow_bytes": w.sum("ArrowEvalPython", "data sent to Python workers")
        + w.sum("ArrowEvalPython", "data returned from Python workers"),
        "spatial_join.candidates": candidates,
        "spatial_join.pairs": pairs,
        "spatial_join.selectivity": pairs / candidates if candidates else 0.0,
        "spatial_join.shuffle_bytes": w.sum("Exchange", "shuffle bytes written"),
        "spatial_join.fetch_wait_ms": w.sum("Exchange", "fetch wait time"),
        "spatial_join.refine_python_ms": sum(w.sum("MapInPandas", m) for m in py),
        "spatial_join.skew": w.skew(),
        "task.cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6,
        "task.gc_ms": float(sum(t["gc_ms"] for t in tasks)),
        "task.spill_bytes": float(sum(t["spill"] for t in tasks)),
    }


def write_counts(w: Window) -> dict:
    node = "Execute InsertIntoHadoopFsRelationCommand"
    rows = w.sum(node, "number of output rows")
    return {
        "checkpoint.commit_ms": w.sum(node, "job commit time") + w.sum(node, "task commit time"),
        "checkpoint.jobs_per_write": float(w.jobs),
        "checkpoint.bytes_per_row": w.sum(node, "written output") / rows if rows else 0.0,
    }
