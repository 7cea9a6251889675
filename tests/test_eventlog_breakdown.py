"""tools/eventlog_breakdown.py on a hand-written event-log sample: per-job
wall time and group, per-stage task counts, per-task run, deserialize
and CPU time."""

from __future__ import annotations

import json

from tools import eventlog_breakdown as E


def _task(stage, task_id, run_ms, deser_ms, cpu_ns):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Type": "ResultTask", "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Task ID": task_id, "Launch Time": 0, "Finish Time": 0},
            "Task Metrics": {"Executor Deserialize Time": deser_ms,
                             "Executor Deserialize CPU Time": 1,
                             "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Result Size": 10, "JVM GC Time": 0}}


def _stage(stage, name, n_tasks, submitted, completed):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Stage Name": name,
                           "Number of Tasks": n_tasks, "Submission Time": submitted,
                           "Completion Time": completed}}


SAMPLE = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "migrate"}},
    _task(0, 0, 250, 6, 12_000_000),
    _task(0, 1, 55, 4, 10_500_000),
    # a task that failed before reporting metrics
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Task ID": 2}, "Task End Reason": {"Reason": "TaskKilled"}},
    _stage(0, "save at X", 2, 1010, 1290),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300,
     "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [1, 2], "Properties": {}},
    _task(2, 3, 2, 1, 1_000_000),
    _stage(2, "count at Y", 1, 2005, 2010),
]


def test_reduces_jobs_stages_and_tasks():
    out = E.reduce_event_log([json.dumps(e) for e in SAMPLE] + [""])
    assert out["jobs"] == [
        {"job_id": 0, "group": "migrate", "stage_ids": [0], "wall_ms": 300,
         "result": "JobSucceeded"},
        {"job_id": 1, "group": None, "stage_ids": [1, 2], "wall_ms": None, "result": None},
    ]
    assert out["stages"] == [
        {"stage_id": 0, "attempt": 0, "name": "save at X", "n_tasks": 2, "wall_ms": 280},
        {"stage_id": 2, "attempt": 0, "name": "count at Y", "n_tasks": 1, "wall_ms": 5},
    ]
    assert out["tasks"] == [
        {"stage_id": 0, "attempt": 0, "task_id": 0, "run_ms": 250,
         "deserialize_ms": 6, "cpu_ms": 12.0},
        {"stage_id": 0, "attempt": 0, "task_id": 1, "run_ms": 55,
         "deserialize_ms": 4, "cpu_ms": 10.5},
        {"stage_id": 2, "attempt": 0, "task_id": 3, "run_ms": 2,
         "deserialize_ms": 1, "cpu_ms": 1.0},
    ]


def test_text_table_and_json_output(tmp_path, capsys):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in SAMPLE) + "\n")
    assert E.main([str(log)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines[1].split() == ["0", "300", "JobSucceeded", "migrate", "0"]
    assert lines[2].split() == ["1", "-", "-", "-", "1,2"]
    # stage 0: 2 tasks, wall 280, run sum 305 / p50 152 / max 250, deser 10, cpu 22
    assert lines[5].split() == ["0.0", "2", "280", "305", "152", "250", "10", "22",
                                "save", "at", "X"]
    assert E.main([str(log), "--json"]) == 0
    assert json.loads(capsys.readouterr().out) == E.reduce_event_log(log.read_text().splitlines())
