"""Span self time and event-log attribution on synthetic inputs."""

from __future__ import annotations

import json

from perfbench.tracing import EventLog, Tracer, union_length


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    t = Tracer(True)
    t.spans = [
        {"id": 0, "name": "op", "op": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "layer", "op": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "layer", "op": 1, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "layer", "op": "warm", "parent": None, "start": 0.0, "end": 9.0},
    ]
    got = t.self_times()
    assert got["op"] == {"count": 1, "total_s": 10.0, "self_s": 5.0}
    assert got["layer"]["count"] == 2  # the warm-up span is not measured


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", 1, tag=True):
        pass
    assert t.spans == []


def _task(stage, launch, run_ms, cpu_ns=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0}},
    }


def test_event_log_attributes_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "layer#1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 1010, 100, 5_000_000, 64),
        _task(0, 1020, 50),
        _task(2, 1600, 7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = EventLog(str(path))
    g = log.group("layer#1")
    assert (g.jobs, g.tasks, g.run_ms, g.cpu_ns, g.shuffle_write, g.gc_ms) == (1, 2, 150, 5_000_000, 64, 2)
    assert g.sched_delay_ms == 10
    assert g.job_intervals == [(1.0, 1.4)]
    assert log.group(None).tasks == 1
