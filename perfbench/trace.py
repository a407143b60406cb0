"""Spans around every call into a layer, and Spark's event log attributed
to the op spans that caused its jobs.

A span is (name, start, end, parent, op): wall-clock seconds, the index of
the enclosing span, and the op it belongs to. Spans are kept in memory
and written out once, when the run ends. With one client issuing one op
at a time, every Spark job that starts inside an op span belongs to that
op, so the event log needs no job tags to be attributed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def durations(self, name: str, ops: set[int] | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
)


def read_event_logs(log_dir: str) -> dict[str, list]:
    """Jobs, completed stages and finished tasks from every uncompressed
    event log under ``log_dir`` (one per SparkContext). Times in seconds."""
    jobs, stages, tasks = {}, [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                if not line.startswith(_WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[(path, e["Job ID"])] = [e["Submission Time"] / 1e3, None]
                elif kind == "SparkListenerJobEnd":
                    jobs[(path, e["Job ID"])][1] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages.append((info["Submission Time"] / 1e3, info["Number of Tasks"]))
                else:
                    m = e.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        e["Task Info"]["Launch Time"] / 1e3,
                        m.get("Executor Run Time", 0) / 1e3,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1e3,
                        shuffle.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
    return {
        "jobs": [(s, e if e is not None else s) for s, e in jobs.values()],
        "stages": stages,
        "tasks": tasks,
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer_metrics(log: dict[str, list], op_spans: list[dict]) -> dict[str, float]:
    """``spark.*`` per-op metrics: every job, stage and task that starts
    inside an op span is charged to that op."""
    n_ops = max(1, len(op_spans))
    windows = sorted((s["start"], s["end"]) for s in op_spans)

    def inside(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows)

    jobs = [j for j in log["jobs"] if inside(j[0])]
    stages = [s for s in log["stages"] if inside(s[0])]
    tasks = [t for t in log["tasks"] if inside(t[0])]
    gap = 0.0
    for lo, hi in windows:
        clipped = [(max(s, lo), min(e, hi)) for s, e in jobs if lo <= s <= hi]
        gap += (hi - lo) - _union_length(clipped)
    return {
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.tasks_per_op": len(tasks) / n_ops,
        "spark.single_task_stage_ratio": (
            sum(1 for _, n in stages if n == 1) / len(stages) if stages else 0.0
        ),
        "spark.driver_gap_s": gap / n_ops,
        "spark.executor_run_s": sum(t[1] for t in tasks) / n_ops,
        "spark.executor_cpu_s": sum(t[2] for t in tasks) / n_ops,
        "spark.gc_s": sum(t[3] for t in tasks) / n_ops,
        "spark.shuffle_write_bytes": sum(t[4] for t in tasks) / n_ops,
        "spark.spill_bytes": sum(t[5] for t in tasks) / n_ops,
    }
