"""Spark event-log reader: jobs, their tasks, and how a time window splits.

Spark 4.1 writes a rolled log, ``<dir>/eventlog_v2_<app>/events_<n>_<app>``,
one JSON event per line (the benchmark turns compression off, because
reading zstd would need a module this host lacks). Jobs are attributed to
a span by their ``spark.jobGroup.id`` property, which the benchmark sets
per thread, or by submission time; never by call site, which adaptive
execution rewrites.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    shuffle_write: int
    spill: int
    input_bytes: int
    input_records: int

    @property
    def duration(self) -> float:
        return self.finish - self.launch


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    complete: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, in write order (rolled or single)."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        def index(path: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(path))
            return int(m.group(1)) if m else 0

        return sorted(rolled, key=lambda p: (os.path.dirname(p), index(p)))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def read_jobs(log_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = Job(
                        id=e["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submit=e["Submission Time"] / 1000.0,
                        stages=list(e["Stage IDs"]),
                    )
                    jobs[job.id] = job
                    for s in job.stages:
                        stage_job[s] = job.id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].complete = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(e["Stage ID"])
                    if job_id is None:
                        continue
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    jobs[job_id].tasks.append(
                        Task(
                            stage=e["Stage ID"],
                            launch=info["Launch Time"] / 1000.0,
                            finish=info["Finish Time"] / 1000.0,
                            shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            spill=m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                            input_records=m.get("Input Metrics", {}).get(
                                "Records Read", 0
                            ),
                        )
                    )
    return sorted(jobs.values(), key=lambda j: j.id)


def summarize(jobs: list[Job]) -> dict[str, float]:
    """Counts and sums over a set of jobs. ``task_skew`` is the worst
    stage's max/median task time (1.0 when no stage has two tasks)."""
    tasks = [t for j in jobs for t in j.tasks]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration)
    skews = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    return {
        "jobs": float(len(jobs)),
        "stages": float(len(by_stage)),
        "tasks": float(len(tasks)),
        "task_s": sum(t.duration for t in tasks),
        "shuffle_bytes": float(sum(t.shuffle_write for t in tasks)),
        "spill_bytes": float(sum(t.spill for t in tasks)),
        "input_bytes": float(sum(t.input_bytes for t in tasks)),
        "input_records": float(sum(t.input_records for t in tasks)),
        "task_skew": max(skews) if skews else 1.0,
    }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def split_window(jobs: list[Job], start: float, end: float) -> dict[str, float]:
    """Split ``[start, end]`` into driver time (no job of ``jobs`` running),
    scheduling wait (a job running but none of its tasks) and task time
    (at least one task running). The three add up to the window."""
    wall = max(0.0, end - start)
    job_active = union_length([(j.submit, j.complete) for j in jobs], start, end)
    task_active = union_length(
        [(t.launch, t.finish) for j in jobs for t in j.tasks], start, end
    )
    task_active = min(task_active, job_active)
    return {
        "driver_s": wall - job_active,
        "sched_wait_s": job_active - task_active,
        "task_active_s": task_active,
    }
