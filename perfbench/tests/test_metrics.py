"""BENCHMARK.json, the printed metrics and the event-log reader agree."""

from __future__ import annotations

import json
import os

from perfbench import metrics, run
from perfbench.trace import read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == set(
        metrics.END_TO_END.items())
    assert {(m["name"], m["unit"]) for m in bench["per_layer"]} == set(
        metrics.PER_LAYER.items())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def _write_log(path: str) -> None:
    def task(stage, run_ms, sent=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"Name": "data sent to Python workers", "Update": sent}]},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6 // 2,
                    "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                    "Input Metrics": {"Bytes Read": 100}}}

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 2, "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"streaming.sql.batchId": "3",
                                          "sql.streaming.queryId": "q",
                                          "spark.sql.execution.id": "2",
                                          "spark.sql.execution.root.id": "1"}},
        task(0, 40, sent=11), task(0, 60, sent=4),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [1], "Properties": {}},
        task(1, 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_jobs_carry_their_task_totals(tmp_path):
    _write_log(str(tmp_path / "local-1"))
    a, b = read_event_log(str(tmp_path))
    assert (a.job_id, a.start, a.end, a.batch_id, a.query_id) == (0, 1.0, 1.5, 3, "q")
    assert a.writes_files and a.execution_id == 2 and a.root_execution_id == 1
    assert abs(a.run_s - 0.1) < 1e-9 and abs(a.cpu_s - 0.05) < 1e-9
    assert (a.shuffle_read_bytes, a.shuffle_write_bytes, a.input_bytes) == (14, 10, 200)
    assert a.python_bytes_sent == 15
    assert (b.batch_id, b.writes_files, b.run_s) == (None, False, 0.01)
