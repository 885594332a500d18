"""Event-log attribution on a hand-written log."""

import json

from perfbench.trace import Span, attribute_event_log, engine_per_op
from perfbench.workloads import _tail


def _task(stage, run_ms, wr=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": run_ms * 1_000_000,
                             "JVM GC Time": 1,
                             "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 5},
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": wr}}}


def _stage(sid, t0, t1, tasks):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": t0,
                           "Completion Time": t1, "Number of Tasks": tasks}}


def test_attribution(tmp_path):
    a = Span("layer.a", "layer.a#0", 100.0, 110.0)
    b = Span("layer.b", "layer.b#1", 120.0, 130.0)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 101_000,
         "Properties": {"spark.jobGroup.id": "layer.a#0"}},
        _stage(0, 101_000, 103_000, 2), _task(0, 900, wr=10),
        _task(0, 1100, wr=20),
        _stage(1, 102_000, 105_000, 1), _task(1, 2000),
        # stage 1 is reused (skipped) by a later job in another span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 121_000,
         "Properties": {"spark.jobGroup.id": "layer.b#1"}},
        _stage(2, 121_000, 122_000, 1), _task(2, 500),
        # a job without a known group lands in the span containing it
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 125_000, "Properties": {}},
        _stage(3, 125_000, 126_000, 1), _task(3, 700),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    attribute_event_log(str(log), [a, b])
    assert a.engine["stages"] == 2 and a.engine["tasks"] == 3
    assert a.engine["shuffle_write_bytes"] == 30
    assert a.engine["shuffle_read_bytes"] == 15
    assert abs(a.engine["executor_run_s"] - 4.0) < 1e-9
    assert abs(a.engine["stage_span_s"] - 4.0) < 1e-9  # union of [1,3],[2,5]
    assert abs(a.engine["driver_gap_s"] - 6.0) < 1e-9
    assert b.engine["stages"] == 2 and b.engine["tasks"] == 2
    assert abs(b.engine["driver_gap_s"] - 8.0) < 1e-9
    per = engine_per_op([a, b])
    assert per["stages"] == 2 and per["tasks"] == 2.5


def test_tail_percentile():
    assert _tail([1.0] * 10)[0] == 0
    pct, v = _tail([float(i) for i in range(1, 41)])
    assert pct == 75 and v == 30.0  # ten samples (31..40) above it
