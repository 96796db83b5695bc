"""The event-log parser and span attribution, on a small recorded log
(re-record with record_eventlog.py)."""

import json
from pathlib import Path

from tracing import Job, Span, Stage, attribute, parse_event_log, span_counters

DATA = Path(__file__).resolve().parent / "data"


def _spans() -> list[Span]:
    with open(DATA / "spans.jsonl") as fh:
        return [Span(**json.loads(line)) for line in fh]


def _parsed(tmp_path):
    (tmp_path / "log").mkdir()
    (tmp_path / "log" / "local-1").write_text((DATA / "eventlog.jsonl").read_text())
    return parse_event_log(tmp_path / "log")


def test_parse_recorded_log(tmp_path):
    jobs, stages = _parsed(tmp_path)
    assert len(jobs) >= 3
    groups = {j.group for j in jobs.values()}
    assert {"a#0", "b#1"} <= groups
    # the unknown thread's job carries no group
    assert None in groups
    assert sum(st.tasks for st in stages.values()) > 0
    assert any(st.post_shuffle and st.tasks for st in stages.values())
    assert any(st.shuffle_bytes > 0 for st in stages.values())


def test_attribution_and_counters(tmp_path):
    jobs, stages = _parsed(tmp_path)
    spans = _spans()
    attribute(spans, jobs)
    # the ungrouped job was submitted while span b was open
    assert all(j.span == "b#1" for j in jobs.values() if j.group is None)
    c = span_counters(spans, jobs, stages)
    assert c["a#0"]["shuffle_bytes"] > 0
    assert 1 <= c["a#0"]["max_post_shuffle_partitions"] <= 3
    assert c["b#1"]["jobs"] == sum(1 for j in jobs.values() if j.span == "b#1")
    assert c["a#0"]["tasks"] + c["b#1"]["tasks"] == sum(
        st.tasks for st in stages.values()
    )


def test_window_attribution_prefers_innermost_span_and_counts_stage_once():
    outer = Span("outer#0", "outer", start=10.0, end=20.0)
    inner = Span("inner#1", "inner", start=12.0, end=14.0, parent="outer#0")
    jobs = {
        0: Job(0, submit_ms=13_000, group=None, stage_ids=[0, 1]),
        1: Job(1, submit_ms=15_000, group=None, stage_ids=[1, 2]),
        2: Job(2, submit_ms=30_000, group=None, stage_ids=[3]),
    }
    stages = {
        0: Stage(0, num_tasks=4, tasks=4, shuffle_bytes=100),
        1: Stage(1, num_tasks=2, post_shuffle=True, tasks=2),
        2: Stage(2, num_tasks=1, post_shuffle=True, tasks=1),
        3: Stage(3, tasks=5),
    }
    attribute([outer, inner], jobs)
    assert [jobs[i].span for i in range(3)] == ["inner#1", "outer#0", None]
    c = span_counters([outer, inner], jobs, stages)
    assert c["inner#1"] == {
        "jobs": 1, "tasks": 6, "max_post_shuffle_partitions": 2,
        "shuffle_bytes": 100, "gc_ms": 0,
    }
    # outer includes its child; stage 1, listed again by job 1, counts once
    assert c["outer#0"]["jobs"] == 2
    assert c["outer#0"]["tasks"] == 7
