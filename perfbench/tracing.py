"""Spans around layer calls, and Spark counters read back per span.

A span is ``(id, parent, layer, start, end)``, kept in memory.  When
tracing is on, every span runs its Spark work under its own job group
(``spark.jobGroup.id = span-<id>``); after the session stops, the
uncompressed event log is parsed and every task, stage and job is
charged to the span whose group launched it.  When tracing is off the
spans still record wall time (the benchmark's per-step timings), but
no job group is set and no event log exists.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.task_cpu_s += other.task_cpu_s
        self.gc_s += other.gc_s
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.job_intervals.extend(other.job_intervals)


class Tracer:
    """Records spans; with ``enabled`` also tags Spark jobs per span."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def begin(self, layer: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), parent, layer, time.time())
        self.spans.append(span)
        self._stack.append(span)
        if self.enabled:
            self.sc.setLocalProperty(_GROUP_KEY, f"span-{span.sid}")
        return span

    def end(self, span: Span) -> float:
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.layer} closed out of order")
        span.end = time.time()
        self._stack.pop()
        if self.enabled:
            outer = f"span-{self._stack[-1].sid}" if self._stack else None
            self.sc.setLocalProperty(_GROUP_KEY, outer)
        return span.seconds

    def abort(self) -> None:
        """Close every open span (after a request raised)."""
        while self._stack:
            self.end(self._stack[-1])

    @contextmanager
    def span(self, layer: str):
        span = self.begin(layer)
        try:
            yield span
        finally:
            self.end(span)

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)
        return kids

    def self_seconds(self, sid: int, kids: dict[int, list[int]]) -> float:
        s = self.spans[sid]
        return s.seconds - sum(self.spans[k].seconds for k in kids.get(sid, []))


def read_event_log(directory: str) -> dict[int, Counters]:
    """Per-span counters from the single uncompressed event log under
    ``directory`` (span id → :class:`Counters`, own work only)."""
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    stage_span: dict[int, int] = {}
    job_start: dict[int, tuple[int, float]] = {}
    out: dict[int, Counters] = {}

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get(_GROUP_KEY) or ""
        return int(group[5:]) if group.startswith("span-") else None

    with open(os.path.join(directory, logs[0]), encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    job_start[ev["Job ID"]] = (sid, ev["Submission Time"] / 1e3)
                    out.setdefault(sid, Counters()).jobs += 1
            elif kind == "SparkListenerJobEnd":
                started = job_start.pop(ev["Job ID"], None)
                if started is not None:
                    sid, t0 = started
                    out[sid].job_intervals.append((t0, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
                    out.setdefault(sid, Counters()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if sid is None or not metrics:
                    continue
                c = out[sid]
                c.tasks += 1
                c.task_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
                c.gc_s += metrics.get("JVM GC Time", 0) / 1e3
                read = metrics.get("Shuffle Read Metrics", {})
                c.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                    "Local Bytes Read", 0
                )
                c.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
    return out


def inclusive(tracer: Tracer, own: dict[int, Counters]) -> dict[int, Counters]:
    """Counters of every span plus all of its descendants."""
    kids = tracer.children()
    memo: dict[int, Counters] = {}

    def total(sid: int) -> Counters:
        if sid not in memo:
            c = Counters()
            if sid in own:
                c.add(own[sid])
            for k in kids.get(sid, []):
                c.add(total(k))
            memo[sid] = c
        return memo[sid]

    return {s.sid: total(s.sid) for s in tracer.spans}


def uncovered_seconds(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Time inside ``span`` during which none of ``intervals`` (Spark
    jobs) was running: driver-side planning, Python and waits."""
    covered = 0.0
    cursor = span.start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, span.end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, span.seconds - covered)
