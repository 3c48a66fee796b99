"""Spans around the benchmark's calls into each layer, and per-span task
metrics read back from Spark's own event log.

Every call the benchmark makes into the engine runs inside `Tracer.span`.
The span's wall time is always recorded (per-layer timing needs it in every
run).  With tracing on, the span id is also set as a Spark local property
before the call, so each job's `Properties` in the event log names the span
that submitted it; `attribute` then folds the event log's task metrics into
per-span totals.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "linkbench.span"

TASK_METRICS = (
    "jobs",
    "tasks",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "driver_only_s",
)


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out by `dump`."""

    def __init__(self, spark, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int = 0):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spark.sparkContext.setLocalProperty(
                    SPAN_PROPERTY, str(parent.id) if parent else None
                )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def attribute(event_log_dir: str, spans: list[Span]) -> dict[int, dict]:
    """span id → TASK_METRICS totals, from the (uncompressed, non-rolling)
    event log.  A job belongs to the span named in its properties; a job
    without one goes to the innermost span open when it was submitted."""
    files = glob.glob(os.path.join(event_log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {len(files)}")
    by_id = {s.id: s for s in spans}

    def innermost(t: float) -> int | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    stage_span: dict[int, int] = {}
    stage_iv: dict[int, tuple[float, float]] = {}
    out = {s.id: dict.fromkeys(TASK_METRICS, 0.0) for s in spans}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                sid = int(prop) if prop not in (None, "") else innermost(ev["Submission Time"] / 1e3)
                if sid is None or sid not in by_id:
                    continue
                out[sid]["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_iv[info["Stage ID"]] = (
                        info["Submission Time"] / 1e3,
                        info["Completion Time"] / 1e3,
                    )
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                acc = out[sid]
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                acc["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
    # driver-only time: span wall time during which none of its stages ran
    busy: dict[int, list] = {}
    for st, sid in stage_span.items():
        if st in stage_iv:
            busy.setdefault(sid, []).append(stage_iv[st])
    for s in spans:
        iv = [(max(a, s.start), min(b, s.end)) for a, b in busy.get(s.id, []) if b > s.start and a < s.end]
        out[s.id]["driver_only_s"] = s.seconds - _covered(iv)
    return out
