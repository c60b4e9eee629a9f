"""Event-log parsing and per-task summaries on a hand-written log."""

import json

import pytest

from perfbench.eventlog import EventLog, job_time, read_events, task_summary


def _task(stage, launch, finish, run_ms, reason="Success", **metrics):
    m = {"Executor Deserialize Time": 10, "Executor Run Time": run_ms,
         "Executor CPU Time": run_ms * 1_000_000 // 2, "JVM GC Time": 5,
         "Result Serialization Time": 0, "Memory Bytes Spilled": 0,
         "Disk Bytes Spilled": metrics.get("spill", 0),
         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                  "Local Bytes Read": metrics.get("read", 0)},
         "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                   metrics.get("write", 0)},
         "Input Metrics": {"Bytes Read": metrics.get("input", 0)},
         "Output Metrics": {"Bytes Written": 0}}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0,
                          "Failed": reason != "Success", "Killed": False},
            "Task Metrics": m}


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb-1"}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 0, "Submission Time": 1000},
     "Properties": {"spark.jobGroup.id": "pb-1"}},
    _task(0, 1000, 1400, 300, input=100, write=40),
    _task(0, 1000, 1200, 150, input=50, write=20),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
     "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "pb-2"}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 2, "Submission Time": 1500},
     "Properties": {"spark.jobGroup.id": "pb-2"}},
    _task(2, 1500, 2300, 700, read=60, spill=7),
    _task(2, 1500, 1600, 50, reason="ExceptionFailure"),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2400,
     "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 3, "Submission Time": 3000}},
    _task(3, 3000, 3100, 90),
]


@pytest.fixture
def log_dir(tmp_path):
    # a rolling log: the dir Spark was given holds one app directory
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    (app / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    (app / "events_2_local-1").write_text("\n".join(lines[6:]) + "\n")
    (app / "appstatus_local-1").write_text("")
    return tmp_path


def test_rolling_log_is_read_in_order(log_dir):
    kinds = [e["Event"] for e in read_events(str(log_dir))]
    assert kinds == [e["Event"] for e in EVENTS]


def test_jobs_and_tasks_map_to_groups(log_dir):
    log = EventLog(read_events(str(log_dir)))
    assert [j["id"] for j in log.jobs_in({"pb-1"})] == [0]
    assert log.jobs[2]["group"] is None and log.jobs[2]["end"] is None
    assert len(log.tasks_in({"pb-2"})) == 2
    assert len(log.tasks_in({"pb-1", "pb-2"})) == 4
    # a job with no group belongs to the unit whose window holds it
    assert [j["id"] for j in log.jobs_in({"pb-1"}, (2.9, 3.5))] == [0, 2]
    assert len(log.tasks_in({"pb-1"}, (2.9, 3.5))) == 3
    assert log.jobs_in({"pb-1"}, (0.0, 2.0)) == log.jobs_in({"pb-1"})
    # jobs 0 and 1 overlap on [1.4, 1.5]; the open job 2 is ignored
    assert job_time(list(log.jobs.values())) == pytest.approx(1.4)


def test_task_summary(log_dir):
    log = EventLog(read_events(str(log_dir)))
    s = task_summary(log.tasks_in({"pb-1", "pb-2"}), wall_s=1.0, cores=4)
    assert s["tasks"] == 4 and s["stages"] == 2 and s["failed_tasks"] == 1
    assert s["executor_run_s"] == pytest.approx(1.2)
    assert s["executor_cpu_s"] == pytest.approx(0.6)
    assert s["gc_s"] == pytest.approx(0.02)
    # duration - run - deserialize: 0.09 + 0.04 + 0.09 + 0.04
    assert s["scheduler_delay_s"] == pytest.approx(0.26)
    assert s["input_bytes"] == 150 and s["shuffle_write_bytes"] == 60
    assert s["shuffle_read_bytes"] == 60 and s["spill_bytes"] == 7
    assert s["core_busy_frac"] == pytest.approx(1.5 / 4)
    assert s["max_task_s"] == pytest.approx(0.8)
    assert s["median_task_s"] == pytest.approx(0.3)
    # stage 2 holds the most task time: max 0.8 over median 0.45
    assert s["task_skew"] == pytest.approx(0.8 / 0.45)


def test_empty_summary_is_zero():
    s = task_summary([], wall_s=1.0, cores=4)
    assert s["tasks"] == 0 and s["task_skew"] == 0.0
    assert s["median_task_s"] == 0.0
