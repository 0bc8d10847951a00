import json

import pytest

from perfbench.eventlog import COUNTERS, Span, read_events, window_counters


def _task(stage, launch, cpu_ns, run_ms, *, ok=True, shuffle_w=0, shuffle_r=0, gc=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r},
        },
    }


def _events():
    mb = 1024 * 1024
    return [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000}, "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 1100, 2e9, 1500, shuffle_w=2 * mb, gc=100),
        _task(0, 1200, 1e9, 500, ok=False),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000, "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 4000}, "Properties": {"spark.jobGroup.id": "a"}},
        _task(1, 4000, 1e9, 900, shuffle_r=2 * mb, spill=mb),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
        # a job outside every window is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5500, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0, "Submission Time": 5500}, "Properties": {}},
        _task(2, 5500, 9e9, 9000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 6000},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 7000, "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 7500},
    ]


def test_window_counters():
    spans = [Span("x", "a", 500, 5500), Span("y", "b", 6500, 8000)]
    c = window_counters(_events(), spans)
    a, b = c["a"], c["b"]
    assert set(a) == set(COUNTERS)
    assert a["jobs"] == 2 and a["stages"] == 2 and a["tasks"] == 3
    assert a["failed_tasks"] == 1
    assert a["task_cpu_s"] == pytest.approx(4.0)
    assert a["task_run_s"] == pytest.approx(2.9)
    assert a["task_wait_s"] == pytest.approx(0.3)
    assert a["gc_s"] == pytest.approx(0.1)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["shuffle_read_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(1.0)
    # window 5.0 s, jobs cover [1000, 3000] and [4000, 5000]
    assert a["driver_idle_s"] == pytest.approx(2.0)
    assert b["jobs"] == 1 and b["tasks"] == 0
    assert b["driver_idle_s"] == pytest.approx(1.0)


def test_read_events_rolling_and_single(tmp_path):
    events = _events()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[8:]) + "\n")
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:8]) + "\n")
    assert list(read_events(tmp_path)) == events
    single = tmp_path / "single"
    single.mkdir()
    (single / "local-2").write_text("\n".join(json.dumps(e) for e in events))
    assert list(read_events(single)) == events
