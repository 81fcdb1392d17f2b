"""Per-layer cost ledger from Spark's own event log (stdlib only).

Reads uncompressed event logs (``spark.eventLog.compress=false``), either
single files or Spark 4's rolling ``eventlog_v2_<app>/events_<n>_<app>``
directories, and adds up each stage's task metrics. Stages map to jobs
through ``SparkListenerJobStart``; jobs map to the benchmark's timed
calls through their ``spark.job.description`` (``bench:<workload>:<call>``)
or, for jobs the library submits from its own threads under its own
description, through the call whose time window holds the job's
submission. A call's driver-only time is its wall time minus the union
of its jobs' intervals.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_ROLLING = re.compile(r"events_(\d+)_")
# event-log times are whole milliseconds
_SLACK_S = 0.002


def event_files(root: str) -> list[str]:
    """Every event-log file under ``root`` (a file, a rolling
    ``eventlog_v2_*`` directory, or a directory holding either), rolled
    parts in index order."""
    if os.path.isfile(root):
        return [root]
    out = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if name.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = [p for p in os.listdir(path) if _ROLLING.match(p)]
            parts.sort(key=lambda p: int(_ROLLING.match(p).group(1)))
            out += [os.path.join(path, p) for p in parts]
        elif os.path.isfile(path) and not name.startswith("."):
            out.append(path)
    return out


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


@dataclass
class Job:
    job_id: int
    description: str | None
    start_ms: int
    stage_ids: list
    end_ms: int | None = None


@dataclass
class Call:
    """One timed call: its name and wall window in epoch seconds."""
    name: str
    start: float
    end: float
    jobs: list = field(default_factory=list)


def read_log(root: str) -> tuple[dict, dict]:
    """``(jobs, stages)`` keyed by id, from every file under ``root``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in event_files(root):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.job.description"),
                        ev["Submission Time"], list(ev["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], Stage()),
                              ev.get("Task Metrics") or {})
    return jobs, stages


def _add_task(st: Stage, m: dict) -> None:
    st.tasks += 1
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    st.spill_b += m.get("Memory Bytes Spilled", 0) \
        + m.get("Disk Bytes Spilled", 0)


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs: dict, calls: list[Call]) -> list[Job]:
    """Attach each job to the call that submitted it; return the jobs
    no call claims. A ``bench:<workload>:<call>`` description must name
    the call whose window holds the job; any other description (the
    library's own, from its worker threads) goes by window alone."""
    spare = []
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        t = job.start_ms / 1000.0
        owner = next((c for c in calls
                      if c.start - _SLACK_S <= t <= c.end + _SLACK_S), None)
        desc = job.description or ""
        if owner is not None and desc.startswith("bench:") \
                and desc.rsplit(":", 1)[-1] != owner.name:
            owner = None
        if owner is None:
            spare.append(job)
        else:
            owner.jobs.append(job)
    return spare


def call_costs(call: Call, stages: dict) -> dict:
    """The ledger row of one call: Spark work summed over its jobs'
    stages, and the driver-only share of its wall time."""
    seen: set[int] = set()
    row = {"wall_s": call.end - call.start, "jobs": len(call.jobs),
           "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "first_stage_tasks": 0}
    ran = [sid for job in sorted(call.jobs, key=lambda j: j.job_id)
           for sid in sorted(job.stage_ids) if sid in stages]
    if ran:
        row["first_stage_tasks"] = stages[ran[0]].tasks
    for sid in ran:
        if sid in seen:
            continue
        seen.add(sid)
        st = stages[sid]
        row["tasks"] += st.tasks
        row["exec_run_s"] += st.run_ms / 1e3
        row["exec_cpu_s"] += st.cpu_ns / 1e9
        row["gc_s"] += st.gc_ms / 1e3
        row["shuffle_write_mb"] += st.shuffle_write_b / 2**20
        row["spill_mb"] += st.spill_b / 2**20
    busy = union_length(
        (max(j.start_ms / 1e3, call.start),
         min((j.end_ms or j.start_ms) / 1e3, call.end))
        for j in call.jobs)
    row["driver_s"] = max(row["wall_s"] - busy, 0.0)
    return row
