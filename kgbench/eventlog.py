"""Roll Spark's JSON event log up into per-job and per-layer counters.

Reads the uncompressed event log that ``spark.eventLog.enabled=true`` with
``spark.eventLog.compress=false`` writes: either a plain file per
application, or a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory
per application. Standard library only.

Each task's metrics go to the job whose stages include the task's stage;
the job carries the ``spark.jobGroup.id`` it was submitted under. Python
worker time is the task-level update of the SQL metric "time to run Python
workers" (milliseconds), summed per stage like every other task metric.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

PY_RUN_METRIC = "time to run Python workers"
MB = 1024 * 1024


@dataclass
class JobStats:
    app: str
    job_id: int
    group: str | None
    submit_s: float
    end_s: float = 0.0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    python_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    peak_exec_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return max(0.0, self.end_s - self.submit_s)


@dataclass
class _App:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)


def _app_streams(log_dir: str) -> list[tuple[str, list[str]]]:
    """(app name, event files in order) for every application in the dir."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith("eventlog_v2_") and os.path.isdir(path):
            files = [f for f in os.listdir(path) if f.startswith("events_")]
            files.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            out.append((name[len("eventlog_v2_"):],
                        [os.path.join(path, f) for f in files]))
        elif os.path.isfile(path) and not name.startswith("."):
            out.append((name, [path]))
    return out


def _task(job: JobStats, event: dict) -> None:
    m = event.get("Task Metrics") or {}
    job.tasks += 1
    job.task_s += m.get("Executor Run Time", 0) / 1e3
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1e3
    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    job.peak_exec_bytes = max(job.peak_exec_bytes,
                              m.get("Peak Execution Memory", 0))
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == PY_RUN_METRIC:
            job.python_s += float(acc.get("Update") or 0) / 1e3


def read_jobs(log_dir: str) -> list[JobStats]:
    """Every job of every application logged in ``log_dir``."""
    jobs: list[JobStats] = []
    for app_name, files in _app_streams(log_dir):
        app = _App()
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = JobStats(app_name, ev["Job ID"],
                                       props.get("spark.jobGroup.id"),
                                       ev["Submission Time"] / 1e3)
                        app.jobs[job.job_id] = job
                        for sid in ev.get("Stage IDs", []):
                            app.stage_job.setdefault(sid, job.job_id)
                    elif kind == "SparkListenerJobEnd":
                        job = app.jobs.get(ev["Job ID"])
                        if job is not None:
                            job.end_s = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        jid = app.stage_job.get(ev.get("Stage ID"))
                        if jid is not None:
                            _task(app.jobs[jid], ev)
        jobs.extend(app.jobs.values())
    return sorted(jobs, key=lambda j: j.submit_s)


@dataclass
class Span:
    layer: str
    start: float
    end: float
    depth: int


def layer_of(job: JobStats, spans: list[Span], layers: set[str]) -> str | None:
    """The job's group when it names a layer; otherwise the innermost layer
    span open at the job's submission (jobs that a layer submits from its
    own worker threads carry no group)."""
    if job.group in layers:
        return job.group
    best = None
    for s in spans:
        if s.start <= job.submit_s <= s.end and (best is None or s.depth > best.depth):
            best = s
    return best.layer if best is not None else None


def rollup(jobs: list[JobStats], spans: list[Span], layers: list[str],
           cores: int) -> tuple[dict[str, dict[str, float]], list[JobStats]]:
    """Per-layer totals and the jobs no layer claims.

    ``wall_s`` is each layer's self time: its spans' durations minus the
    time its directly nested spans cover."""
    known = set(layers)
    out = {name: {"wall_s": 0.0, "jobs": 0, "task_s": 0.0, "cpu_s": 0.0,
                  "python_s": 0.0, "input_mb": 0.0, "shuffle_mb": 0.0,
                  "spill_mb": 0.0, "gc_s": 0.0, "peak_exec_mb": 0.0}
           for name in layers}
    for s in spans:
        child = sum(c.end - c.start for c in spans
                    if c.depth == s.depth + 1 and s.start <= c.start
                    and c.end <= s.end)
        if s.layer in out:
            out[s.layer]["wall_s"] += (s.end - s.start) - child
    orphans = []
    for job in jobs:
        name = layer_of(job, spans, known)
        if name is None:
            orphans.append(job)
            continue
        m = out[name]
        m["jobs"] += 1
        m["task_s"] += job.task_s
        m["cpu_s"] += job.cpu_s
        m["python_s"] += job.python_s
        m["input_mb"] += job.input_bytes / MB
        m["shuffle_mb"] += job.shuffle_bytes / MB
        m["spill_mb"] += job.spill_bytes / MB
        m["gc_s"] += job.gc_s
        m["peak_exec_mb"] = max(m["peak_exec_mb"], job.peak_exec_bytes / MB)
    for m in out.values():
        m["utilization"] = (m["task_s"] / (m["wall_s"] * cores)
                            if m["wall_s"] > 0 else 0.0)
    return out, orphans
