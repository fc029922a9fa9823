"""Spark event-log parsing and per-call attribution.

The benchmark turns the uncompressed event log on for traced runs only.
Spark 4 writes a directory ``eventlog_v2_<app>/events_<n>_<app>`` (older
versions a single file); both are JSON lines. Each job carries the job
group that was set on the driver thread when it started, and each task
end carries its metrics; a job's tasks are found through its stage ids.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_s: float
    end_s: float
    stage_ids: list[int]


@dataclass
class Counters:
    """Work attributed to one bucket (a call, a stage, or unattributed)."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0  # executor CPU time
    run_s: float = 0.0  # executor run time (busy task slots)
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0  # disk bytes spilled
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by at least one of our jobs."""
        cut = sorted((max(a, start), min(b, end)) for a, b in self.intervals)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in cut:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total


def event_files(eventlog_dir: Path) -> list[Path]:
    """Every event file under ``eventlog_dir``, in write order."""
    files = []
    for entry in sorted(eventlog_dir.iterdir()):
        if entry.is_dir():  # eventlog_v2_* rolling directory
            parts = [p for p in entry.iterdir() if p.name.startswith("events_")]
            files += sorted(parts, key=lambda p: int(p.name.split("_")[1]))
        elif not entry.name.endswith(".inprogress"):
            files.append(entry)
    return files


def read_events(paths: list[Path]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse(events) -> tuple[dict[int, Job], dict[int, list[dict]]]:
    """Jobs by id, and task-end events by stage id."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            t = ev["Submission Time"] / 1000.0
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"), t, t,
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    return jobs, tasks


def attribute(jobs: dict[int, Job], tasks: dict[int, list[dict]], assign) -> dict[str | None, Counters]:
    """Sum job and task counters per bucket. ``assign(job)`` names the
    bucket of a job, or returns None for the unattributed bucket. A
    stage shared by several jobs counts once, for the first job that
    lists it (later jobs skip it and run no tasks)."""
    out: dict[str | None, Counters] = {}
    seen: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        c = out.setdefault(assign(job), Counters())
        c.jobs += 1
        c.intervals.append((job.submit_s, job.end_s))
        for sid in job.stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            for ev in tasks.get(sid, ()):
                c.tasks += 1
                if ev["Task Info"].get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                    c.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.run_s += m.get("Executor Run Time", 0) / 1e3
                c.shuffle_mb += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                )
                c.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return out


def by_interval(intervals: dict[str, list[tuple[float, float]]]):
    """``assign`` helper for jobs started inside a call the benchmark
    cannot wrap: a job belongs to the named interval containing its
    submission time. Intervals are disjoint (one driver thread)."""

    def find(job: Job) -> str | None:
        for name, spans in intervals.items():
            for a, b in spans:
                if a <= job.submit_s <= b:
                    return name
        return None

    return find
