"""Per-layer metrics the workloads share, computed from spans and the
Spark event log. METRICS.md maps each metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import eventlog
import spans as tr


def _med(xs) -> float:
    xs = list(xs)
    return tr.median(xs) if xs else 0.0


def span_sums(tracer: tr.Tracer) -> dict[str, dict[str, float]]:
    """Root id -> span name -> summed duration in seconds (children only)."""
    out: dict[str, dict[str, float]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            d = out.setdefault(sp.root, {})
            d[sp.name] = d.get(sp.name, 0.0) + (sp.end - sp.start)
    return out


def spark_layer(event_log: str | None, roots: list[tr.Span],
                cores: int) -> tuple[dict[str, float], dict[str, int]]:
    """Spark counters per traced operation (a request or a cell execution),
    and the number of jobs of each operation."""
    if not event_log or not roots:
        return {}, {}
    jobs = eventlog.parse(event_log)
    by_op = eventlog.attribute(jobs, [(r.root, r.start, r.end) for r in roots])
    n = len(roots)
    tot = dict.fromkeys(eventlog.COUNTERS, 0)
    stages = n_jobs = 0
    gaps = []
    for r in roots:
        op_jobs = by_op[r.root]
        n_jobs += len(op_jobs)
        stages += sum(j.stages for j in op_jobs)
        for j in op_jobs:
            for k in tot:
                tot[k] += j.counters[k]
        busy = tr.union_length((max(j.submit, r.start), min(j.end or r.end, r.end))
                               for j in op_jobs)
        gaps.append((r.end - r.start - busy) * 1000.0)
    wall = sum(r.end - r.start for r in roots)
    return {
        "spark.jobs_per_op": n_jobs / n,
        "spark.stages_per_op": stages / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.sched_gap_ms": _med(gaps),
        "spark.executor_run_ms": tot["run_ms"] / n,
        "spark.executor_cpu_ms": tot["cpu_ns"] / 1e6 / n,
        "spark.jvm_gc_ms": tot["gc_ms"] / n,
        "spark.cpu_util": (tot["cpu_ns"] / 1e9) / (wall * cores) if wall else 0.0,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.output_bytes": tot["output_bytes"] / n,
    }, {op: len(js) for op, js in by_op.items()}
