"""Parser for Spark's JSON event log, as written with
``spark.eventLog.enabled=true`` and compression off.

Only the records the per-layer metrics need are read: job start and
end (with the job's local properties, which carry the span id, see
:mod:`spans`), and task end (task metrics plus SQL-metric
accumulables).  Stages are tied to jobs through the job-start record.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Task-metric counters summed per layer: name -> (metrics path, scale).
_TASK_COUNTERS = {
    "scan.input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "scan.input_records": (("Input Metrics", "Records Read"), 1),
    "shuffle.write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "shuffle.write_records": (("Shuffle Write Metrics", "Shuffle Records Written"), 1),
    "shuffle.write_time_s": (("Shuffle Write Metrics", "Shuffle Write Time"), 1e-9),
    "shuffle.read_bytes": (("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    "shuffle.read_local_bytes": (("Shuffle Read Metrics", "Local Bytes Read"), 1),
    "shuffle.fetch_wait_s": (("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    "executor.run_s": (("Executor Run Time",), 1e-3),
    "executor.cpu_s": (("Executor CPU Time",), 1e-9),
    "executor.gc_s": (("JVM GC Time",), 1e-3),
    "spill.disk_bytes": (("Disk Bytes Spilled",), 1),
}

# SQL-metric accumulables of the Python exec nodes (PythonSQLMetrics).
_PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

COUNTER_NAMES = tuple(
    n for n in _TASK_COUNTERS if n != "shuffle.read_local_bytes"
) + tuple(_PYTHON_ACCUMULABLES.values()) + ("scan.tasks",)


@dataclass
class Job:
    job_id: int
    start: float
    stage_ids: list[int]
    span: int | None
    end: float | None = None


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    counters: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stages = {s for j in jobs for s in j.stage_ids}
        return [t for t in self.tasks if t.stage_id in stages]


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d or 0


def _task(ev: dict) -> Task:
    info, metrics = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    t = Task(ev["Stage ID"], info.get("Launch Time", 0) / 1e3,
             info.get("Finish Time", 0) / 1e3)
    for name, (path, scale) in _TASK_COUNTERS.items():
        t.counters[name] = _dig(metrics, path) * scale
    t.counters["shuffle.read_bytes"] += t.counters.pop("shuffle.read_local_bytes")
    t.counters["scan.tasks"] = 1 if t.counters["scan.input_records"] else 0
    for acc in info.get("Accumulables", []):
        name = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if name is not None:
            t.counters[name] = t.counters.get(name, 0) + float(acc.get("Update") or 0)
    return t


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get("perfbench.span")
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1e3, list(ev["Stage IDs"]),
                    int(span) if span is not None else None)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(ev))
    return log


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def totals(tasks: list[Task]) -> dict[str, float]:
    out = dict.fromkeys(COUNTER_NAMES, 0.0)
    for t in tasks:
        for k, v in t.counters.items():
            out[k] = out.get(k, 0.0) + v
    return out
