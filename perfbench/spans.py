"""Spans, Spark event-log parsing, and job-to-span attribution.

Spans are recorded by the benchmark around its calls into the package
(no package code changes); Spark's own event log
(``spark.eventLog.enabled``) supplies jobs, stages, task metrics, SQL
executions and streaming progress, and is parsed after the run. Both
carry wall-clock epoch times, so an event is attributed to the
innermost span whose interval contains its timestamp: jobs by
submission time, tasks by launch time. Attribution is by time, not by
job group, because micro-batch jobs of a streaming query run on the
stream's own thread and do not inherit the caller's group.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float        # epoch seconds
    end: float
    parent: int | None
    op: str | None      # op id shared by every span of one op
    meta: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost
    one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None) -> Iterator[Span | None]:
        """Record ``name`` around the block; yields the span (``None``
        when disabled) so the caller can attach ``meta``."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.sid if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span.sid))


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval covered by
    ``children`` (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


class SpanIndex:
    """Innermost-span lookup by timestamp."""

    def __init__(self, spans: list[Span]) -> None:
        self._spans = sorted(spans, key=lambda s: s.start)
        self._starts = [s.start for s in self._spans]
        self._depth = {}
        by_id = {s.sid: s for s in spans}
        for s in spans:
            d, p = 0, s.parent
            while p is not None:
                d, p = d + 1, by_id[p].parent
            self._depth[s.sid] = d

    def innermost(self, t: float) -> Span | None:
        """The deepest span with ``start <= t <= end``."""
        best = None
        for s in self._spans[: bisect.bisect_right(self._starts, t)]:
            if s.end >= t and (
                best is None or self._depth[s.sid] > self._depth[best.sid]
            ):
                best = s
        return best

    def ancestors(self, span: Span) -> Iterator[Span]:
        by_id = {s.sid: s for s in self._spans}
        cur: Span | None = span
        while cur is not None:
            yield cur
            cur = by_id.get(cur.parent) if cur.parent is not None else None


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    job_id: int
    submit: float               # epoch seconds


@dataclass
class Task:
    stage_id: int
    launch: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Batch:
    """One streaming micro-batch (a QueryProgressEvent)."""

    run_id: str
    batch_id: int
    time: float                 # trigger start, epoch seconds
    input_rows: int
    duration_s: float
    state_rows: int
    state_commit_s: float


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, float] = field(default_factory=dict)   # id -> submit
    tasks: list[Task] = field(default_factory=list)
    sql_starts: list[float] = field(default_factory=list)
    batches: list[Batch] = field(default_factory=list)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def parse_event_log(path: str) -> EventLog:
    """Read a (plain, uncompressed) Spark event log file."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs.append(Job(ev["Job ID"], ev["Submission Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                log.stages[info["Stage ID"]] = (
                    info.get("Submission Time", 0) / 1000.0
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                log.tasks.append(Task(
                    stage_id=ev["Stage ID"],
                    launch=ev["Task Info"]["Launch Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                ))
            elif kind == _SQL_START:
                log.sql_starts.append(ev["time"] / 1000.0)
            elif kind == _PROGRESS:
                p = ev["progress"]
                ops = p.get("stateOperators") or []
                log.batches.append(Batch(
                    run_id=p["runId"],
                    batch_id=p["batchId"],
                    time=_iso_epoch(p["timestamp"]),
                    # the event log carries rows per source, not the total
                    input_rows=sum(
                        src.get("numInputRows", 0) for src in p.get("sources", [])
                    ),
                    duration_s=(p.get("durationMs") or {}).get(
                        "triggerExecution", 0) / 1000.0,
                    state_rows=sum(o.get("numRowsTotal", 0) for o in ops),
                    state_commit_s=sum(o.get("commitTimeMs", 0) for o in ops)
                    / 1000.0,
                ))
    log.sql_starts.sort()
    return log


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
