"""Per-job executor cost from a Spark event log (no UI or REST server).

A session started with `spark.eventLog.enabled` writes one JSON event per
line. Task-end events carry the task metrics; job-start events carry the
job's submission time, its stage ids and its description. Each stage's tasks
count toward the first job that lists the stage, so a stage reused by a later
job (shown as skipped there) is counted once.

Bytes read from files come from the SQL scans' "size of files read" metric,
which Spark reports once per query execution: the tasks' input metrics
under-report local parquet reads (45 KB for a 2.3 MB file).
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass
class JobCost:
    job_id: int
    submit_s: float            # epoch seconds
    description: str | None
    run_s: float = 0.0         # executor run time: slot-seconds busy
    gc_s: float = 0.0
    shuffle_write_b: int = 0   # shuffle bytes written


@dataclass
class Totals:
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    files_read_b: int = 0

    def add(self, job: JobCost) -> None:
        self.run_s += job.run_s
        self.gc_s += job.gc_s
        self.shuffle_write_b += job.shuffle_write_b


@dataclass
class EventLog:
    jobs: list[JobCost]
    scans: list[tuple[float, int]]   # (query start, epoch s; bytes of files read)


def _metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_ids(child, name, out)


def read(path: str) -> EventLog:
    jobs: dict[int, JobCost] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    query_start: dict[int, float] = {}
    files_read_ids: set[int] = set()
    files_read: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "").rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                if "time" in ev:
                    query_start[ev["executionId"]] = ev["time"] / 1000.0
                _metric_ids(ev["sparkPlanInfo"], "size of files read",
                            files_read_ids)
            elif kind == "SparkListenerDriverAccumUpdates":
                qid = ev["executionId"]
                files_read[qid] = files_read.get(qid, 0) + sum(
                    v for acc, v in ev["accumUpdates"] if acc in files_read_ids)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobCost(
                    job_id=ev["Job ID"],
                    submit_s=ev["Submission Time"] / 1000.0,
                    description=props.get("spark.job.description") or None,
                )
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        jid = stage_job.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if jid is None or m is None:
            continue
        job = jobs[jid]
        job.run_s += m.get("Executor Run Time", 0) / 1e3
        job.gc_s += m.get("JVM GC Time", 0) / 1e3
        job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
    scans = [(query_start[q], b) for q, b in files_read.items()
             if q in query_start]
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), scans)


def in_window(log: EventLog, start_s: float, end_s: float,
              unlabelled_only: bool = False) -> Totals:
    """Totals of the jobs submitted, and the files read by the queries
    started, within [start_s, end_s]."""
    t = Totals()
    for job in log.jobs:
        if start_s <= job.submit_s <= end_s:
            if unlabelled_only and job.description:
                continue
            t.add(job)
    t.files_read_b = sum(b for when, b in log.scans
                         if start_s <= when <= end_s)
    return t
