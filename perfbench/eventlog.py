"""Reader for Spark's JSON event log (``spark.eventLog.enabled=true``,
uncompressed).

Jobs carry the job group the benchmark set around each public call, so every
task can be charged to the call that caused it.  Besides the task's own
duration, GC time, shuffle and output bytes, each task carries Spark's SQL
metrics of the Python nodes as accumulator updates: "time to start /
initialize / run Python workers" (milliseconds) and "data sent to / returned
from Python workers" (bytes).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_PY_METRICS = (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RECV)


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    stages: list[int]


@dataclass
class Task:
    job: int
    group: str
    duration_ms: int
    gc_ms: int
    shuffle_bytes: int
    bytes_written: int
    py: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]

    def in_groups(self, *groups: str) -> list[Task]:
        return [t for t in self.tasks if t.group in groups]

    def jobs_in(self, *groups: str) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]


def _events(log_dir: str):
    # Spark 4 writes one directory per application (rolling format)
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(root, name), errors="replace") as fh:
                for line in fh:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:  # the last line of a live log
                        continue


def read(log_dir: str) -> EventLog:
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    ends = []
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id", ""),
                      e.get("Submission Time", 0),
                      [s["Stage ID"] for s in e.get("Stage Infos", [])])
            jobs.append(job)
            for sid in job.stages:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            ends.append(e)
    tasks = []
    for e in ends:
        info = e.get("Task Info") or {}
        tm = e.get("Task Metrics") or {}
        job = stage_job.get(e["Stage ID"])
        py = {}
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in _PY_METRICS and acc.get("Update") is not None:
                py[acc["Name"]] = py.get(acc["Name"], 0.0) + float(acc["Update"])
        tasks.append(Task(
            job=job.job_id if job else -1,
            group=job.group if job else "",
            duration_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
            gc_ms=tm.get("JVM GC Time", 0),
            shuffle_bytes=(tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            bytes_written=(tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            py=py))
    return EventLog(jobs, tasks)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (0 for no values)."""
    if not values:
        return 0.0
    v = sorted(values)
    return float(v[min(len(v) - 1, int(q * (len(v) - 1) + 0.5))])
