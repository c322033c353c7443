"""The ``ops`` workload: registry cells, one after another, in seeded order.

Each execution is timed from the call into ``queries()[name]`` through a
``noop`` save, so plan construction counts. A warm-up pass, untimed,
collects every cell's output for the correctness check; the measured
window then repeats seeded passes over the cells until ``seconds`` run out
(every cell gets at least two timed executions).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import checks
import host
import report
import spans as tr

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    oracle_sql,
    queries,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    STAR_TABLES,
)

#: A per-job-floor cell (27 of the 47 ``bench.HEADLINE`` cells run under
#: 400 ms at sf0.1): a scan/aggregate that writes no bytes.
FLOOR_CELLS = ("tpch_q6_forecast_revenue",)
#: The joins the roadmap's packed-key item targets. These and the write
#: cells get their own wall time and job count in a traced run.
JOIN_CELLS = (
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q8_market_share",
    "join_star_flagship",
)
READ_CELLS = FLOOR_CELLS + JOIN_CELLS

#: Cells that write bytes on every call: an AvailableNow streaming drain
#: whose state store checkpoints to local disk, and an incremental MERGE
#: whose merged version is written as a bucketed table through
#: ``sources.sinks.write_bucketed``.
WRITE_CELLS = ("streaming_tumbling_hourly", "cdc_merge_incremental")

CELLS = READ_CELLS + WRITE_CELLS

#: Directories under the work dir that hold no cell output (``tmp`` does:
#: streaming state-store checkpoints land there).
_NOT_OUTPUT = {"events", "local"}


def _files_since(work: str, since: float) -> int:
    n = 0
    for top in os.listdir(work):
        if top in _NOT_OUTPUT or not os.path.isdir(os.path.join(work, top)):
            continue
        for root, _dirs, files in os.walk(os.path.join(work, top)):
            for f in files:
                try:
                    n += os.path.getmtime(os.path.join(root, f)) >= since
                except OSError:
                    pass
    return n


def run(prog, seed: int, seconds: float) -> dict:
    rng = random.Random(seed)
    setup, _ = prog.setups(lambda spark: None)
    spark = prog.spark
    qs = queries()
    data = prog.data_dir

    host.phase("warm up")
    outputs = {}
    warm = {}
    for name in rng.sample(CELLS, len(CELLS)):
        t0 = time.perf_counter()
        df = qs[name](spark, data)
        outputs[name] = checks.fingerprint(df.columns, df.collect())
        warm[name] = round(time.perf_counter() - t0, 3)
    print("# warm-up (s): " + json.dumps(warm), file=sys.stderr)

    host.phase("measure")
    execs = []  # (name, construct_s, execute_s, traced)
    files = []
    n_pass = 0
    t_start = time.perf_counter()
    deadline = t_start + seconds
    # Every cell runs at least twice: a single execution varies by up to a
    # fifth within a run, and the minimum damps that. A traced run times
    # passes traced and untraced in the order T U U T, so warming up as the
    # run goes on favours neither side of the overhead.
    min_passes = 4 if prog.traced else 2
    while n_pass < min_passes or time.perf_counter() < deadline:
        traced = prog.traced and n_pass % 4 in (0, 3)
        for name in rng.sample(CELLS, len(CELLS)):
            if n_pass >= min_passes and time.perf_counter() >= deadline:
                break
            rid = f"{name}#{n_pass}"
            if traced:
                with prog.op_root(rid, name) as root:
                    with prog.tracer.span("operators.construct"):
                        c0 = time.perf_counter()
                        df = qs[name](spark, data)
                    with prog.tracer.span("operators.execute"):
                        c1 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        c2 = time.perf_counter()
                files.append(_files_since(prog.work, root.start))
            else:
                c0 = time.perf_counter()
                df = qs[name](spark, data)
                c1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                c2 = time.perf_counter()
            execs.append((name, c1 - c0, c2 - c1, traced))
        n_pass += 1
    window = time.perf_counter() - t_start

    host.phase("check")
    con = checks.duckdb_views(data, STAR_TABLES)
    oracle = oracle_sql()
    failed = 0
    for name in CELLS:
        rows, digest = outputs[name]
        want = checks.duckdb_fingerprint(con, oracle[name])
        if rows == 0 or (rows, digest) != want:
            print(f"# check failed: {name} rows={rows} oracle rows={want[0]}",
                  file=sys.stderr)
            failed += 1
    con.close()

    untraced = [e for e in execs if not e[3]]
    per_cell = {c: _steady(untraced, c) for c in CELLS}
    print("# cell steady-state times (s): "
          + json.dumps({c: round(v, 3) for c, v in per_cell.items()}), file=sys.stderr)
    # The latency median is taken over the cells' steady-state times, so a
    # cell's weight does not depend on how many times it fit in the window.
    steady_ms = [v * 1000.0 for v in per_cell.values()]
    result = {
        "attempted": len(execs) + len(CELLS),
        "failed": failed,
        "setup": setup,
        "e2e": {
            "throughput_ops": len(untraced) / window,
            "latency_p50_ms": tr.median(steady_ms),
            "suite_s": sum(per_cell.values()),
            "geomean_ms": tr.geomean(steady_ms),
        },
    }
    if prog.traced:
        result["layers"] = lambda: _layers(prog, execs, files)
    return result


def _steady(execs, cell: str, part=lambda e: e[1] + e[2]) -> float:
    """A cell's steady-state time: its fastest timed execution. With two or
    three executions per cell, the minimum damps the host's scheduling
    jitter (as bench.py's min-of-N does) where a median cannot."""
    return min(part(e) for e in execs if e[0] == cell)


def _layers(prog, execs, files) -> dict:
    traced = [e for e in execs if e[3]]
    untraced = [e for e in execs if not e[3]]
    ms = lambda cells, part=lambda e: e[1] + e[2]: 1000.0 * sum(  # noqa: E731
        _steady(traced, c, part) for c in cells)
    roots = [s for s in prog.tracer.spans if s.parent is None and s.name in CELLS]
    sums = report.span_sums(prog.tracer)

    out, jobs_by_op = report.spark_layer(prog.event_log_path(), roots, prog.cores)
    out.update({
        "operators.construct_ms": ms(CELLS, lambda e: e[1]),
        "operators.execute_ms": ms(CELLS, lambda e: e[2]),
        "operators.read_cells_ms": ms(READ_CELLS),
        "operators.write_cells_ms": ms(WRITE_CELLS),
        "spark.output_files": sum(files) / len(files),
        # per execution of a cell that writes through the sinks
        "sources.sinks.write_ms": tr.median([
            d["sources.sinks.write"] * 1000.0 for d in sums.values() if "sources.sinks.write" in d]),
        # per cell, so a cell's weight does not depend on its duration
        "trace.overhead_ms": tr.median([ms([c]) - 1000.0 * _steady(untraced, c)
                                        for c in CELLS]),
    })
    for c in JOIN_CELLS + WRITE_CELLS:
        out[f"operators.{c}.wall_ms"] = ms([c])
        out[f"operators.{c}.jobs"] = tr.median(
            [n for op, n in jobs_by_op.items() if op.split("#")[0] == c])
    return out
