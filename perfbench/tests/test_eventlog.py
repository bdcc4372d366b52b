"""The event-log parser on a small log captured from Spark 4.1 (local[4]):
a PNG round-trip query (two Python operators) in job group ``g1/png`` and a
TPC-H Q3 shape in ``g2/q3``, with bulky fields stripped."""

import json
import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_python_metrics_and_groups():
    log = eventlog.parse(LOG)
    png = log.summarize(["g1/png"])
    assert (png["jobs"], png["stages"], png["tasks"], png["failed_tasks"]) == (2, 2, 2, 0)
    assert png["run_ms"] == 3002
    assert png["py_sent_bytes"] == 57592
    assert png["py_received_bytes"] == 72392
    assert png["py_boot_s"] == pytest.approx(1.360)
    assert png["py_init_s"] == pytest.approx(1.011)
    assert png["py_exec_s"] == pytest.approx(3.263)
    assert "shuffle_write_bytes" not in png


def test_shuffle_metrics_job_intervals_and_unknown_groups():
    log = eventlog.parse(LOG)
    q3 = log.summarize(["g2/q3"])
    assert (q3["jobs"], q3["stages"]) == (7, 7)
    assert q3["shuffle_write_bytes"] == q3["shuffle_read_bytes"] == 4932
    assert len(q3["job_intervals"]) == 7
    assert all(e > s for s, e in q3["job_intervals"])
    both = log.summarize(["g1/png", "g2/q3"])
    assert both["jobs"] == 9
    assert both["run_ms"] == q3["run_ms"] + log.summarize(["g1/png"])["run_ms"]
    assert log.summarize(["no/such/group"])["jobs"] == 0


def test_failed_tasks_jobs_and_ns_timing(tmp_path):
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"metrics": [{"name": "time to run Python workers", "accumulatorId": 9, "metricType": "nsTiming"}], "children": []}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 1, "Accumulables": [
            {"ID": 9, "Name": "time to run Python workers", "Value": 2_500_000_000},
            {"ID": 1, "Name": "internal.metrics.memoryBytesSpilled", "Value": "100"},
            {"ID": 2, "Name": "internal.metrics.diskBytesSpilled", "Value": 50}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000, "Job Result": {"Result": "JobFailed"}},
        # A later job listing stage 0 again skipped it: the stage stays the first job's.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000, "Stage IDs": [0, 2],
         "Properties": {"spark.jobGroup.id": "h"}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.parse(str(path))
    g = log.summarize(["g"])
    assert (g["jobs"], g["failed_tasks"], g["stages"]) == (1, 1, 1)
    assert g["py_exec_s"] == pytest.approx(2.5)
    assert g["spill_bytes"] == 150
    assert g["job_intervals"] == [(1.0, 3.0)]
    h = log.summarize(["h"])
    assert (h["jobs"], h["stages"], h["job_intervals"]) == (1, 0, [])
