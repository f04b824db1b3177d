"""Spans around the calls the benchmark makes into the engine, and the
fold of Spark's event log into per-span task metrics.

A span is a named wall-clock window recorded from the benchmark's side
of each public call.  Spans opened on the benchmark's thread also set
the Spark job group, so every job that thread submits carries the
span's name.  Jobs submitted from other threads (a streaming query's
foreachBatch runs on the query thread, under the query's own group) are
attributed by time instead: to the innermost span whose window holds
the job's submission time.  The benchmark runs one client, so spans do
not overlap except by nesting.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# Totals folded per span name.
METRIC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "records_in",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    depth: int


@dataclass
class Spans:
    """Recorder of named windows; sets the job group when given a
    SparkContext."""

    sc: object | None = None
    done: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        depth = len(self._stack)
        self._stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.done.append(Span(name, start, end, depth))

    def open(self, name: str) -> bool:
        return name in self._stack

    def walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.done if s.name == name]


def read_event_log(log_dir: str | Path) -> list[dict]:
    """All events of the (single, uncompressed) application log under
    ``log_dir``."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _innermost(spans: list[Span], t: float) -> str | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.depth > best.depth):
            best = s
    return best.name if best else None


def fold(events: list[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Task metrics summed per span name.

    A job belongs to the span named by its job group when that is one of
    the benchmark's spans, else to the innermost span open at its
    submission time, else to ``"other"``.  A stage belongs to the first
    job that lists it; a task to its stage."""
    names = {s.name for s in spans}
    job_label: dict[int, str] = {}
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def totals(label: str) -> dict[str, float]:
        return out.setdefault(label, dict.fromkeys(METRIC_FIELDS, 0.0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            submitted = ev.get("Submission Time", 0) / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            label = group if group in names else _innermost(spans, submitted)
            label = label or "other"
            job_label[jid] = label
            totals(label)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_label:
                totals(stage_label[sid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals(stage_label.get(ev["Stage ID"], "other"))
            t["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                t["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["records_in"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out


def busy_seconds(events: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one Spark job ran
    (union of job intervals)."""
    begun: dict[int, float] = {}
    intervals = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            begun[ev["Job ID"]] = ev.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in begun:
            a = max(begun.pop(ev["Job ID"]), start)
            b = min(ev.get("Completion Time", 0) / 1000.0, end)
            if b > a:
                intervals.append((a, b))
    busy, reach = 0.0, start
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        busy += b - max(a, reach)
        reach = b
    return busy
