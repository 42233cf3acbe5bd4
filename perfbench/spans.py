"""Spans at the benchmark's own call boundaries, and Spark event-log counts.

Spans (workload -> operation -> layer call) are kept in memory and written
as one JSON file when the run ends. A disabled tracer records nothing.

Spark's event log attributes each job to an operation through the local
property ``perfbench.op``, which the workload sets around every timed
operation; jobs outside an operation carry no tag and are ignored.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

OP_PROPERTY = "perfbench.op"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, /, **attrs):
        """Record ``name``, with ``attrs``, around the body."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent_id": self._stack[-1] if self._stack else None,
            "name": name,
            "start_s": time.perf_counter(),
            "end_s": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_counts(log_dir: str, ops: list[str]) -> dict[str, float]:
    """Per-operation means of Spark's own counts for the tagged ``ops``:
    jobs, completed stages, finished tasks, shuffle bytes written, JVM GC
    time and executor CPU time. Read after the session stops, which
    flushes the log."""
    totals = dict.fromkeys(
        ("jobs", "stages", "tasks", "shuffle_write_b", "gc_ms", "cpu_ns"), 0
    )
    wanted = set(ops)
    stage_op: dict[int, str] = {}
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                    if op in wanted:
                        totals["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_op[sid] = op
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_op:
                        totals["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in stage_op:
                        continue
                    totals["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    totals["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    n = max(len(ops), 1)
    return {
        "spark.jobs_per_op": totals["jobs"] / n,
        "spark.stages_per_op": totals["stages"] / n,
        "spark.tasks_per_op": totals["tasks"] / n,
        "spark.shuffle_write_mb_per_op": totals["shuffle_write_b"] / n / 1e6,
        "spark.gc_s_per_op": totals["gc_ms"] / n / 1e3,
        "spark.executor_cpu_s_per_op": totals["cpu_ns"] / n / 1e9,
    }
