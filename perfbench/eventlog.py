"""Spark event-log parsing: jobs, stages and task metrics, keyed by the
job group the benchmark set when the work was submitted.

Spark writes one JSON object per line. With rolling logs (the default
since Spark 3.x) the log is a directory of ``events_<n>_<app>`` files;
otherwise it is a single file. Both are read here.
"""

from __future__ import annotations

import json
import os
import re
from typing import Dict, Iterable, Iterator, List

from .stats import median, union_length

GROUP_KEY = "spark.jobGroup.id"


def read_events(path: str) -> Iterator[dict]:
    """Every event of the log at ``path``, in order. ``path`` may be
    the log directory Spark was given, a rolling-log directory, or one
    log file."""
    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        if len(names) == 1 and os.path.isdir(os.path.join(path, names[0])):
            yield from read_events(os.path.join(path, names[0]))
            return
        def order(n):
            m = re.match(r"events_(\d+)_", n)
            return (int(m.group(1)) if m else 0, n)
        files = [os.path.join(path, n) for n in sorted(names, key=order)
                 if n.startswith("events_")]
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    duration = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    run = m.get("Executor Run Time", 0) / 1e3
    # Spark's own definition (AppStatusUtils.schedulerDelay)
    delay = max(0.0, duration - run
                - m.get("Executor Deserialize Time", 0) / 1e3
                - m.get("Result Serialization Time", 0) / 1e3
                - info.get("Getting Result Time", 0) / 1e3)
    reason = ev.get("Task End Reason", {}).get("Reason", "Success")
    return {
        "stage": ev["Stage ID"],
        "duration_s": duration,
        "run_s": run,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scheduler_delay_s": delay,
        "failed": bool(info.get("Failed") or info.get("Killed")
                       or reason != "Success"),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {})
                                .get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


class EventLog:
    """Jobs, stages and tasks of one application. Jobs and stages carry
    the job group they were submitted under (None if unset) and their
    submission time in epoch seconds."""

    def __init__(self, events: Iterable[dict]):
        self.jobs: Dict[int, dict] = {}
        self.stages: Dict[int, dict] = {}
        self.tasks: List[dict] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                    "start": ev["Submission Time"] / 1e3,
                    "end": None}
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                    "start": info.get("Submission Time", 0) / 1e3}
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task(ev))

    @staticmethod
    def _owned(rec: dict, groups, window) -> bool:
        """Submitted under one of ``groups``, or under no group at a
        time inside ``window``: some jobs Spark starts from its own
        threads (broadcasts, subqueries) do not inherit the group, and
        a closed loop runs one unit at a time."""
        if rec["group"] is None and window is not None:
            return window[0] <= rec["start"] <= window[1]
        return rec["group"] in groups

    def jobs_in(self, groups, window=None) -> List[dict]:
        return [j for j in self.jobs.values()
                if self._owned(j, groups, window)]

    def tasks_in(self, groups, window=None) -> List[dict]:
        stages = {sid for sid, st in self.stages.items()
                  if self._owned(st, groups, window)}
        return [t for t in self.tasks if t["stage"] in stages]


def task_summary(tasks: List[dict], wall_s: float, cores: int) -> dict:
    """Work, waiting, data moved and skew over a set of tasks that ran
    within ``wall_s`` seconds on ``cores`` task slots."""
    out = {k: 0.0 for k in ("executor_run_s", "executor_cpu_s", "gc_s",
                            "scheduler_delay_s", "shuffle_write_bytes",
                            "shuffle_read_bytes", "spill_bytes",
                            "input_bytes", "output_bytes")}
    for t in tasks:
        out["executor_run_s"] += t["run_s"]
        out["executor_cpu_s"] += t["cpu_s"]
        out["gc_s"] += t["gc_s"]
        out["scheduler_delay_s"] += t["scheduler_delay_s"]
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "input_bytes", "output_bytes"):
            out[k] += t[k]
    durations = [t["duration_s"] for t in tasks]
    out["tasks"] = len(tasks)
    out["failed_tasks"] = sum(t["failed"] for t in tasks)
    out["stages"] = len({t["stage"] for t in tasks})
    out["core_busy_frac"] = (sum(durations) / (cores * wall_s)
                             if wall_s > 0 else 0.0)
    out["max_task_s"] = max(durations, default=0.0)
    out["median_task_s"] = median(durations) if durations else 0.0
    # skew of the stage holding the most task time: the stage a
    # straggler is most likely to hold up
    by_stage: Dict[int, List[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["duration_s"])
    out["task_skew"] = 0.0
    if by_stage:
        top = max(by_stage.values(), key=sum)
        mid = median(top)
        out["task_skew"] = max(top) / mid if mid > 0 else 1.0
    return out


def job_time(jobs: List[dict]) -> float:
    """Wall time during which at least one of ``jobs`` was running."""
    return union_length((j["start"], j["end"]) for j in jobs
                        if j["end"] is not None)
