"""Spans around layer calls and the Spark event log tagged by them.

A span is (name, kind, start, end, parent, run id).  While a span is open,
every Spark job the thread submits carries the span's id as its job group,
so the event log attributes stages and tasks to the span that ran them.
"""
from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: str
    name: str
    kind: str            # 'root' | 'layer' | 'bench' | 'probe'
    parent: Optional[str]
    run_id: int
    start: float
    end: float = 0.0
    counters: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``set_group`` tags the thread's Spark jobs."""

    def __init__(self, set_group: Callable[[Optional[str]], None],
                 clock: Callable[[], float] = time.perf_counter):
        self.spans: List[Span] = []
        self.run_id = 0
        self._set_group = set_group
        self._clock = clock
        self._stack: List[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"kgbench-{next(self._ids)}", name, kind,
                 parent.span_id if parent else None, self.run_id,
                 self._clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.span_id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self._set_group(parent.span_id if parent else None)

    def count(self, name: str, value: float) -> None:
        """Add to a counter of the innermost non-bench span."""
        for s in reversed(self._stack):
            if s.kind != "bench":
                s.counters[name] = s.counters.get(name, 0) + value
                return
        raise RuntimeError(f"counter {name} outside any span")


def self_times(spans: Iterable[Span]) -> Dict[str, float]:
    """span_id -> duration minus the part its children cover."""
    spans = list(spans)
    children: Dict[str, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.span_id] = s.duration - covered
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    group: Optional[str]
    run_ms: float
    gc_ms: float
    shuffle_write_bytes: int
    spill_bytes: int
    scheduler_delay_ms: float
    failed: bool


@dataclass
class EventLog:
    job_group: Dict[int, Optional[str]]
    tasks: List[Task]


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs and tasks of a Spark JSON event log, tagged with job groups.

    A stage belongs to the group of the job that submitted it (the stage's
    own submission properties, else the first job listing it)."""
    job_group: Dict[int, Optional[str]] = {}
    stage_group: Dict[int, Optional[str]] = {}
    raw_tasks = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if GROUP_PROP in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props[GROUP_PROP]
        elif kind == "SparkListenerTaskEnd":
            raw_tasks.append(ev)
    tasks = []
    for ev in raw_tasks:
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        run = m.get("Executor Run Time", 0)
        delay = (duration - run - m.get("Executor Deserialize Time", 0)
                 - m.get("Result Serialization Time", 0)
                 - info.get("Getting Result Time", 0))
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        tasks.append(Task(
            stage=ev["Stage ID"],
            group=stage_group.get(ev["Stage ID"]),
            run_ms=run,
            gc_ms=m.get("JVM GC Time", 0),
            shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
            spill_bytes=m.get("Disk Bytes Spilled", 0),
            scheduler_delay_ms=max(0, delay),
            failed=bool(info.get("Failed")) or reason != "Success",
        ))
    return EventLog(job_group, tasks)


def engine_totals(log: EventLog, groups: Iterable[str]) -> Dict[str, float]:
    """Spark-side totals over the jobs and tasks of the given job groups."""
    groups = set(groups)
    tasks = [t for t in log.tasks if t.group in groups]
    return {
        "jobs": sum(1 for g in log.job_group.values() if g in groups),
        "tasks": len(tasks),
        "task_failures": sum(t.failed for t in tasks),
        "run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "scheduler_delay_s": sum(t.scheduler_delay_ms for t in tasks) / 1000.0,
    }


def heaviest_stage_skew(log: EventLog, groups: Iterable[str]) -> float:
    """Slowest / median task run time in the groups' heaviest stage."""
    groups = set(groups)
    by_stage: Dict[int, List[float]] = {}
    for t in log.tasks:
        if t.group in groups and not t.failed:
            by_stage.setdefault(t.stage, []).append(t.run_ms)
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    # run times are whole milliseconds: floor the median at 1 ms
    return max(runs) / max(statistics.median(runs), 1.0)
