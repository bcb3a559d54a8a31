"""Spans recorded around the benchmark's calls into each layer, and the
per-operation counts read from Spark's own event log.

Spans live in memory and are written out once, when the run ends. A
disabled ``Tracer`` records nothing, so untraced runs pay one attribute
check per span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

OP_PROPERTY = "perfbench.op"  # Spark local property naming the traced op


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def eventlog_metrics(log_dir: str, ops: list[str]) -> dict[str, float]:
    """Per-op averages over the jobs whose ``perfbench.op`` local property
    is in ``ops``: jobs, tasks, executor CPU, JVM GC (summed over tasks),
    input records, shuffle-write MB, and the task skew (max / median task
    time) of the widest stage. Input is counted in records, not bytes: a
    scan feeding a Python UDF is read on the UDF's writer thread, where
    Spark's per-thread byte counters do not see it."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    wanted = set(ops)
    job_stages: dict[int, list[int]] = {}
    stage_tasks: dict[int, list[dict]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get(OP_PROPERTY) in wanted:
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif kind == "SparkListenerTaskEnd":
                stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
    stages = {s for ss in job_stages.values() for s in ss}
    tasks = [t for s in stages for t in stage_tasks.get(s, ())]

    def metric(t, *path):
        v = t.get("Task Metrics") or {}
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    n = max(1, len(ops))
    widest = max(stages, key=lambda s: len(stage_tasks.get(s, ())), default=None)
    skew = 0.0
    if widest is not None and stage_tasks.get(widest):
        durs = [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in stage_tasks[widest]
        ]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(job_stages) / n,
        "spark.tasks": len(tasks) / n,
        "spark.executor_cpu_s": sum(metric(t, "Executor CPU Time") for t in tasks) / 1e9 / n,
        "spark.jvm_gc_s": sum(metric(t, "JVM GC Time") for t in tasks) / 1e3 / n,
        "spark.input_records": sum(metric(t, "Input Metrics", "Records Read") for t in tasks) / n,
        "spark.shuffle_write_mb": sum(
            metric(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
        ) / 2**20 / n,
        "spark.task_skew": skew,
    }
