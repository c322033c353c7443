#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 10 --trace 0

Workloads: ``serve_cold`` (HTTP clients against ``api.serve``) and ``ops``
(registry cells). The seed picks the questions and the cell order. The
corpus is fixed: it is generated once into ``.perfbench_work/`` in the
checkout and kept there for later runs; each run's own files go to a work
directory beside it, removed at exit. With ``--trace 0`` the last stdout
line carries the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
it carries its per-layer metrics, from a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

import datagen
import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark"
WORKLOADS = ("serve_cold", "ops")

#: Scale factor and seed of the generated corpus (sf0.1: 600k lineitem
#: rows). The corpus does not vary with --seed, so runs differ only in
#: question and cell order, not in data.
SF = 0.1
CORPUS_SEED = 1


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    corpus = os.path.join(ROOT, ".perfbench_work", f"corpus-sf{SF}-seed{CORPUS_SEED}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    try:
        return _run(args, work, corpus)
    finally:
        host.stop_children()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, corpus: str) -> int:
    cores = host.cores()
    # Keep every file Spark, the JVM and Python create inside the work dir.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    load_start = os.getloadavg()[0]
    steal_start = host.steal_s()
    host.phase("corpus")
    data = datagen.ensure_corpus(corpus, CORPUS_SEED, SF)
    os.chdir(work)

    import harness

    prog = harness.Program(work, data, traced=bool(args.trace))
    with host.StallSampler() as stall:
        try:
            if args.workload == "ops":
                import ops

                result = ops.run(prog, args.seed, args.seconds)
            else:
                import serve

                result = serve.run(prog, args.seed, args.seconds)
            rss = prog.rss_peak_mb()
            conf = prog.conf_stamp()
        finally:
            host.phase("stop")
            prog.stop()
    host.phase("report")

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "ram_mb": round(host.ram_mb()),
        "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
        "host.stall_ms_max": stall.max_late * 1000.0,
        "host.steal_ms": (host.steal_s() - steal_start) * 1000.0, "spark_conf": conf,
        "setup_s_each": result["setup"],  # the first also launches the JVM
    }
    print("# stamp " + json.dumps(stamp), flush=True)

    if args.trace:
        values = result["layers"]()
        values["sources.catalog.register_ms"] = statistics.median(
            sp.ms for sp in prog.tracer.spans
            if sp.name == "sources.catalog.register_views"
            and sp.root.startswith("setup-") and sp.root != "setup-0")
        values["rss_peak_mb"] = rss
        values["host.stall_ms_max"] = stamp["host.stall_ms_max"]
        values["host.steal_ms"] = stamp["host.steal_ms"]
        values["host.load_avg_start"] = load_start
        units = metric_units("per_layer")
        # a layer this workload does not exercise reads 0
        missing = sorted(set(units) - set(values))
        if missing:
            print("# not measured by this workload: " + ", ".join(missing), file=sys.stderr)
    else:
        values = dict(result["e2e"], setup_s=statistics.median(result["setup"][1:]))
        units = metric_units("end_to_end")
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
