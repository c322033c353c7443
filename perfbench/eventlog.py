"""Pure-Python reader for an uncompressed Spark event log.

Turns the listener events into one record per job: its job group, submit and
completion time, the stages that actually ran, and task counters summed over
those stages (executor run/CPU/GC time, shuffle and spill bytes, output
bytes). ``attribute`` then maps jobs onto the benchmark's operations, by job
group when the job carries one and by time window otherwise (streaming
micro-batch jobs run on the stream's own thread and do not inherit the
caller's group).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

COUNTERS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "output_bytes")


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: int = 0
    counters: dict[str, int] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _lines(path: str):
    """Lines of a single-file log, or of every part of a rolling (v2) log
    directory in part order."""
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def parse(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    active: dict[int, set[int]] = {}
    for line in _lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0)
            active[jid] = set(ev.get("Stage IDs") or ())
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
            active.pop(ev["Job ID"], None)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            owners = [j for j, st in active.items() if sid in st]
            if owners:
                stage_job[sid] = max(owners)
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            _add_task(jobs[jid].counters, ev.get("Task Metrics") or {})
    return sorted(jobs.values(), key=lambda j: j.id)


def _add_task(c: dict[str, int], m: dict) -> None:
    c["tasks"] += 1
    c["run_ms"] += m.get("Executor Run Time", 0)
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def attribute(jobs: list[Job], ops: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """Map jobs onto operations ``(op_id, start, end)``.

    A job whose group is an op id belongs to that op; a job in any other
    group belongs to no op. A job without a group belongs to the op whose
    window contains its submit time; jobs outside every window (set-up,
    checks) are dropped.
    """
    out: dict[str, list[Job]] = {op: [] for op, _, _ in ops}
    windows = sorted(ops, key=lambda o: o[1])
    for job in jobs:
        if job.group is not None:
            if job.group in out:
                out[job.group].append(job)
            continue
        for op, start, end in windows:
            if start <= job.submit <= end:
                out[op].append(job)
                break
    return out
