"""Span self time and event-log attribution, without Spark."""

import json

from perfbench.spans import Tracer, event_log_metrics


def _tracer(spans):
    tr = Tracer()
    tr.spans = spans
    return tr


def _span(i, name, parent, start, end, jobs=(), children=()):
    return {"id": i, "name": name, "parent": parent, "children": list(children),
            "op": 1, "start": start, "end": end, "group": f"{name}#{i}",
            "jobs": list(jobs), "stages": 0, "tasks": 0}


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, "incremental.apply_batch", None, 0.0, 10.0, jobs=[1],
                   children=[1, 2, 3])
    kids = [_span(1, "packed.open", 0, 1.0, 4.0, jobs=[2, 3]),
            _span(2, "packed.query", 0, 3.0, 5.0),
            _span(3, "packed.query", 0, 7.0, 8.0, jobs=[4])]
    tr = _tracer([parent, *kids])
    assert tr.self_time(parent) == 10.0 - (4.0 + 1.0)
    assert tr.self_time(kids[0]) == 3.0
    assert tr.total_jobs(parent) == 4


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("packed.query") as rec:
        pass
    tr.record("session.start", 0.0, 1.0)
    assert rec is None and tr.spans == []


def test_event_log_metrics_attribute_tasks_to_job_groups(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "index_build.build#3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 39}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 900}},
    ]
    (app / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    (app / "appstatus_local-1").write_text("")
    got = event_log_metrics(str(tmp_path))
    assert got == {"index_build.build#3": {
        "input_bytes": 100, "shuffle_bytes": 80, "executor_s": 2.0}}
