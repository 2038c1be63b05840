"""Percentile and self-time arithmetic, span recording, and parsing of
streaming progress reports and Spark event logs."""

from __future__ import annotations

import json

import pytest

from perfbench.trace import (
    JobStats,
    Span,
    Tracer,
    attribute_jobs,
    last_quarter,
    median,
    parse_event_log,
    parse_progress,
    self_time,
    span,
    span_counters,
)


def test_median_and_last_quarter():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])
    assert last_quarter([1]) == [1]
    assert last_quarter([1, 2]) == [1, 2]
    assert last_quarter([1, 2, 3, 4]) == [3, 4]
    assert last_quarter(list(range(8))) == [6, 7]
    assert last_quarter(list(range(9))) == [6, 7, 8]


def test_self_time_merges_overlapping_children_and_clips():
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(1, 3), (2, 5)]) == 6  # union 1..5
    assert self_time((0, 10), [(1, 2), (4, 6)]) == 7
    assert self_time((0, 10), [(-5, 2), (9, 20)]) == 7  # clipped to the span
    assert self_time((0, 10), [(12, 14)]) == 10
    assert self_time((0, 10), [(0, 10), (3, 4)]) == 0


def test_tracer_nests_spans_and_records_parents():
    tr = Tracer()
    with span(tr, "root") as root:
        with span(tr, "child") as child:
            pass
        with span(tr, "child2"):
            pass
    assert child.parent == root.span_id
    assert [s.parent for s in tr.spans] == [None, root.span_id, root.span_id]
    assert all(s.end >= s.start for s in tr.spans)
    recs = tr.to_records()
    assert {r["run_id"] for r in recs} == {tr.run_id}
    assert [r["name"] for r in recs] == ["root", "child", "child2"]
    with span(None, "ignored") as nothing:
        assert nothing is None


def test_tracer_rejects_out_of_order_close():
    tr = Tracer()
    outer = tr.start("outer")
    tr.start("inner")
    with pytest.raises(RuntimeError):
        tr.stop(outer)


PROGRESS = {
    "id": "q", "runId": "r1", "batchId": 3, "timestamp": "2026-01-02T03:04:05.250Z",
    "numInputRows": 80,
    "durationMs": {"addBatch": 1500, "getBatch": 0, "latestOffset": 4,
                   "queryPlanning": 6, "triggerExecution": 1700, "walCommit": 30},
}


def test_parse_progress():
    b = parse_progress(json.dumps(PROGRESS))
    assert (b.run_id, b.batch_id, b.input_rows) == ("r1", 3, 80)
    assert b.trigger_s == 1.7 and b.add_batch_s == 1.5
    assert b.planning_s == 0.006 and b.wal_commit_s == 0.03
    assert b.start == pytest.approx(1767323045.25)
    idle = dict(PROGRESS, durationMs={"latestOffset": 2, "triggerExecution": 2})
    assert parse_progress(json.dumps(idle)) is None


def _events():
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 50,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                             "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
                             "Input Metrics": {"Bytes Read": 1000}}}
    return [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g-1"}},
        task, dict(task, **{"Stage ID": 1}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 lists stage 1 again (skipped) and runs stage 2, no group
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5500,
         "Stage IDs": [1, 2], "Properties": {}},
        dict(task, **{"Stage ID": 2}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
    ]


def test_parse_event_log_counts_each_stage_once():
    jobs = parse_event_log(json.dumps(e) for e in _events())
    j0, j1 = jobs[0], jobs[1]
    assert (j0.group, j0.submit) == ("g-1", 1.0)
    assert (j0.stages, j0.tasks) == (2, 2)
    assert j0.executor_cpu_s == pytest.approx(4.0)
    assert j0.gc_s == pytest.approx(0.1)
    assert (j0.shuffle_write_bytes, j0.spill_bytes, j0.input_bytes) == (200, 20, 2000)
    assert (j1.group, j1.stages, j1.tasks) == (None, 1, 1)


def test_attribution_by_group_then_window_and_inclusive_counters():
    root = Span("g-1", "root", 0.0, 10.0)
    child = Span("g-2", "child", 1.0, 4.0, parent="g-1")
    batch = Span("w-1", "batch", 5.0, 7.0, parent="g-1", windowed=True)
    commit = Span("w-2", "commit", 5.2, 6.5, parent="w-1", windowed=True)
    jobs = {
        0: JobStats(0, "g-2", 1.5, stages=2, tasks=4),
        1: JobStats(1, "stream", 5.1, stages=1, tasks=1),  # in batch only
        2: JobStats(2, "stream", 6.0, stages=3, tasks=3),  # innermost: commit
        3: JobStats(3, None, 9.0, stages=1, tasks=1),  # no window, no group
    }
    spans = [root, child, batch, commit]
    owned = attribute_jobs(spans, jobs)
    assert [j.job_id for j in owned["g-2"]] == [0]
    assert [j.job_id for j in owned["w-1"]] == [1]
    assert [j.job_id for j in owned["w-2"]] == [2]
    assert owned["g-1"] == []
    rows = span_counters(spans, owned)
    assert rows["g-1"]["jobs"] == 3 and rows["g-1"]["tasks"] == 8
    assert rows["g-1"]["s"] == 10.0
    assert rows["g-1"]["self_s"] == pytest.approx(10.0 - 3.0 - 2.0)
    assert rows["w-1"]["jobs"] == 2 and rows["w-1"]["self_s"] == pytest.approx(0.7)
    assert rows["w-2"]["stages"] == 3
