"""Span bookkeeping: parent links, self time, and no-op when disabled."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import GroupCounters, Span, Tracer, fold_event_log, self_time  # noqa: E402


def span(sid, start, end, parent=None):
    return Span(sid=sid, name=f"s{sid}", layer="x", trace="t", parent=parent, start=start, end=end)


@pytest.mark.parametrize(
    "children, expected",
    [
        ([], 10.0),
        ([(1, 3)], 8.0),
        ([(1, 3), (5, 6)], 7.0),
        ([(1, 4), (3, 6)], 5.0),  # overlapping children count once
        ([(1, 6), (2, 3)], 5.0),  # nested inside a sibling
        ([(-2, 1), (9, 14)], 8.0),  # clipped to the parent's interval
    ],
)
def test_self_time_is_duration_minus_child_cover(children, expected):
    parent = span(0, 0.0, 10.0)
    kids = [span(i + 1, a, b, parent=0) for i, (a, b) in enumerate(children)]
    assert self_time(parent, kids) == pytest.approx(expected)


def test_tracer_links_children_and_inherits_trace():
    tr = Tracer(enabled=True)
    with tr.span("req", "request", trace="r0:q") as outer:
        with tr.span("build", "queries") as inner:
            pass
        with tr.span("run", "execute"):
            pass
    assert inner.parent == outer.sid and inner.trace == "r0:q"
    assert [s.name for s in tr.children(outer)] == ["build", "run"]
    assert outer.start <= inner.start <= inner.end <= outer.end
    total = sum(s.duration for s in tr.children(outer)) + self_time(outer, tr.children(outer))
    assert total == pytest.approx(outer.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("req", "request") as s:
        assert s is None
    assert tr.spans == []


def test_fold_event_log_attributes_tasks_to_job_groups(tmp_path):
    props = {"spark.jobGroup.id": "perfbench-3"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
         "Properties": props},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
    ]
    tasks = ((10, "Success"), (30, "Success"), (20, "ExceptionFailure"), (10, "Success"))
    for run_ms, reason in tasks:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 7, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 1_000_000_000,
                "JVM GC Time": 5, "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
        })
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = fold_event_log(str(tmp_path))["perfbench-3"]
    assert (c.jobs, c.stages, c.tasks, c.failed_tasks) == (1, 1, 4, 1)
    assert c.shuffle_write_bytes == 400 and c.spill_bytes == 12
    assert c.cpu_s == pytest.approx(4.0) and c.gc_s == pytest.approx(0.02)
    assert c.skew() == pytest.approx(30 / 15)
    assert GroupCounters().skew() == 1.0
