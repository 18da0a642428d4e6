"""Attribution of event-log task and plan-node metrics to spans."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402

XS = "org.apache.spark.sql.execution.ui."


def _node(name, metrics, children=()):
    return {"nodeName": name, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i, "metricType": "sum"}
                        for n, i in metrics]}


def _task(stage, launch, finish, run_ms, accums=()):
    zero_read = {"Local Bytes Read": 0, "Remote Bytes Read": 0,
                 "Fetch Wait Time": 0}
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": [{"ID": i, "Update": str(v)}
                                       for i, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": 10**9,
            "JVM GC Time": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": dict(zero_read, **{
                "Local Bytes Read": 2**20}),
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}},
    }


@pytest.fixture
def log_dir(tmp_path):
    plan = _node("Project", [], [
        _node("MapInPandas", [("time to run Python workers", 1),
                              ("data sent to Python workers", 2)]),
        _node("BroadcastExchange", [("data size", 4)])])
    replan = _node("FlatMapCoGroupsInPandas",
                   [("time to run Python workers", 3),
                    ("time to initialize Python workers", 5)])
    events = [
        {"Event": XS + "SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": plan},
        {"Event": XS + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": replan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1, 2],
         "Properties": {eventlog.SPAN_KEY: "3|qa|action",
                        "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [9],
         "Properties": {}},
        _task(1, 0, 100, 90, [(1, 1500), (2, 2**20)]),
        _task(2, 0, 100, 100, [(3, 2000), (5, 250)]),
        _task(2, 0, 100, 100),
        _task(2, 0, 400, 400),
        _task(9, 0, 5000, 5000, [(1, 99999)]),
        {"Event": XS + "SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[4, 3 * 2**20]]},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    # rolled log: the second file continues the first
    (d / "events_1_app").write_text(
        "".join(json.dumps(e) + "\n" for e in events[:5]))
    (d / "events_2_app").write_text(
        "".join(json.dumps(e) + "\n" for e in events[5:]))
    return d


def test_span_metrics_attributes_tagged_jobs_only(log_dir):
    spans = eventlog.span_metrics(log_dir)
    assert list(spans) == [(3, "qa")]
    m = spans[(3, "qa")]
    assert m["exec.jobs"] == 1
    assert m["exec.tasks"] == 4
    assert m["exec.run_s"] == pytest.approx(0.69)
    assert m["exec.cpu_s"] == pytest.approx(4.0)
    assert m["exchange.write_mb"] == pytest.approx(4.0)
    assert m["python.map_s"] == pytest.approx(1.5)
    assert m["python.cogrouped_s"] == pytest.approx(2.0)
    assert m["python.start_s"] == pytest.approx(0.25)
    assert m["arrow.sent_mb"] == pytest.approx(1.0)
    assert m["broadcast.mb"] == pytest.approx(3.0)
    # widest stage is stage 2: durations 100, 100, 400
    assert m["exec.task_skew"] == pytest.approx(4.0)


def test_per_iteration_sums_phases(log_dir):
    spans = eventlog.span_metrics(log_dir)
    spans[(3, "other")] = {"exec.run_s": 1.0, "exec.task_skew": 9.0,
                           "exec.widest_tasks": 2}
    it = eventlog.per_iteration(spans)[3]
    assert it["exec.run_s"] == pytest.approx(1.69)
    assert it["exec.task_skew"] == pytest.approx(4.0)
