"""Spans and Spark counters for the traced benchmark run.

A span records one call the benchmark makes into a layer of the engine:
its name, layer, start and end, the span that caused it and the request
(trace id) it belongs to. Spans stay in memory; nothing is written until
the run ends. A span opened with ``spark_group=True`` also tags every
Spark job launched inside it with its own job group, and the event log
of the traced run is folded per job group after the session stops, so
jobs, stages, tasks, shuffle, spill, CPU and GC land on the span that
caused them.

With tracing off every span is a no-op, so the untraced run pays
nothing for it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval its children
    cover (overlapping children are counted once)."""
    cover = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return span.duration - cover


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, trace: str = "", spark_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            trace=trace or (parent.trace if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        if spark_group and self.sc is not None:
            self.sc.setJobGroup(s.group, name)
            s.attrs["spark_group"] = True
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if spark_group and self.sc is not None:
                outer = next(
                    (p for p in reversed(self._stack) if p.attrs.get("spark_group")), None
                )
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer.group, outer.name)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def by_layer(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans if s.layer == layer and (name is None or s.name == name)
        ]


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    # per stage attempt: executor run times of its tasks, in ms
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def skew(self, min_tasks: int = 4) -> float:
        """Largest max/median task run time over stages with enough tasks."""
        worst = 1.0
        for times in self.stage_task_ms.values():
            if len(times) >= min_tasks:
                med = statistics.median(times)
                if med > 0:
                    worst = max(worst, max(times) / med)
        return worst


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write a plain, single-file event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str) -> dict[str, GroupCounters]:
    """Per job group counters from the event log(s) under ``log_dir``.

    Jobs and stage attempts carry the job group in their properties; task
    ends are attributed through their stage. Read after the session has
    stopped, when the log is complete."""
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        out[g].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_group[sid] = g
                        out[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    c = out[g]
                    c.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if reason != "Success":
                        c.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    key = (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
                    c.stage_task_ms[key].append(run_ms)
    return out
