"""Spans around the benchmark's calls into each layer, and Spark's own task
metrics attributed to them through the event log.

A span records name, start, end, parent span and run id in memory; the
benchmark writes them out when it ends. While a span is open its jobs run
under ``setJobGroup(group)``. After the session stops, every task in the
event log is attributed to its stage's job group. A stage without a group
(a job submitted from a library-internal thread, which does not inherit
the caller's job group) goes to the span open when it was submitted, and
anything outside every span to ``unattributed``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.host import process_tree, tree_usage

UNATTRIBUTED = "unattributed"
_MB = 2**20


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[str] = []  # names of the enclosing spans
        # time spent in the tracer's own bookkeeping, outside every span
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        group = group or name
        parent = self._open[-1] if self._open else None
        t0 = time.perf_counter()
        self.sc.setJobGroup(group, name)
        _, cpu0 = tree_usage(process_tree())
        self.overhead_s += time.perf_counter() - t0
        start = time.time()
        self._open.append(name)
        try:
            yield
        finally:
            end = time.time()
            t0 = time.perf_counter()
            _, cpu1 = tree_usage(process_tree())
            self._open.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0
            self.spans.append(
                {
                    "name": name,
                    "group": group,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "run_id": self.run_id,
                    "tree_cpu_s": cpu1 - cpu0,
                }
            )

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def group_at(self, t: float) -> str:
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                return s["group"]
        return UNATTRIBUTED

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


_STAGE_TOTALS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", _MB),
}


def stage_metrics(event_dir: str, tracer: Tracer) -> tuple[dict, dict]:
    """({group: task metrics summed per group}, totals).

    The totals come from a second source in the same log: the stage-level
    accumulators Spark reports when each stage completes.
    """
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    stage_group: dict[tuple, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    totals: dict[str, float] = defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    group = tracer.group_at(info.get("Submission Time", 0) / 1000)
                stage_group[key] = group
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                g = groups[stage_group.get(key, UNATTRIBUTED)]
                for k, v in _task_metrics(ev["Task Metrics"]).items():
                    g[k] += v
            elif kind == "SparkListenerStageCompleted":
                for acc in ev["Stage Info"].get("Accumulables", []):
                    if acc.get("Name") in _STAGE_TOTALS:
                        k, scale = _STAGE_TOTALS[acc["Name"]]
                        totals[k] += int(acc["Value"]) / scale
    return groups, totals


def _task_metrics(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
        "shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / _MB,
        "spill_mb": (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / _MB,
    }


def layer_metrics(tracer: Tracer, groups: dict, rows: dict) -> dict:
    """Per-layer metrics keyed ``<group>.<metric>``: span wall and process
    tree CPU summed over the group's spans, executor metrics from the
    event log, and the layer's output row count where it has one."""
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        out[f"{s['group']}.wall_s"] += s["end"] - s["start"]
        out[f"{s['group']}.tree_cpu_s"] += s["tree_cpu_s"]
    for group, m in groups.items():
        for k in ("cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            out[f"{group}.{k}"] += m[k]
    for layer, n in rows.items():
        out[f"{layer}.rows_out"] = n
    return out


def reconcile(groups: dict, totals: dict, tol: float = 1e-6) -> list[str]:
    """Per-group CPU and shuffle-write sums (``unattributed`` included)
    must equal the event log's stage totals."""
    failures = []
    for k, _ in _STAGE_TOTALS.values():
        s = sum(g[k] for g in groups.values())
        if abs(s - totals.get(k, 0.0)) > tol * max(1.0, totals.get(k, 0.0)):
            failures.append(f"{k}: layer sum {s} != event-log total {totals.get(k)}")
    return failures
