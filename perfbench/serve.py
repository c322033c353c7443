"""The served path: HTTP clients in a closed loop against ``api.serve``.

Every question is new, so every request misses the cache and runs
plan -> validate -> Spark -> serialize.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass

import checks
import host
import questions
import report
import spans as tr
from harness import TRACE_HEADER

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
    DataFabricEngine,
    api,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.planner import (
    plan,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.star_planner import (
    plan_star,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    STAR_TABLES,
    register_employees,
)

CLIENTS = 4
#: One round of questions: every branch once, in a seeded order.
ROUND = len(questions.TEMPLATES)
#: Untimed rounds before the window.
WARM_ROUNDS = 2
TABLES = frozenset(STAR_TABLES) | {"employees"}
#: Spans of the planner layer's public calls.
PLAN_SPANS = ("plans.plan_llm", "plans.plan_cascade", "plans.plan_star")


@dataclass
class Req:
    branch: str
    query: str
    rid: str | None  # set when the request is traced
    start: float
    end: float
    status: int
    body: dict

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def post(port: int, query: str, rid: str | None) -> tuple[int, dict]:
    headers = {"Content-Type": "application/json"}
    if rid is not None:
        headers[TRACE_HEADER] = rid
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/api/query/", json.dumps({"query": query}), headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def closed_loop(port: int, next_item, seconds: float, min_count: int) -> list[Req]:
    """``CLIENTS`` threads, each sending its next ``(branch, query, rid)``
    when the previous request returns, until ``seconds`` pass and at least
    ``min_count`` requests are sent."""
    lock = threading.Lock()
    done: list[Req] = []
    sent = 0
    deadline = time.time() + seconds

    def client():
        nonlocal sent
        while True:
            with lock:
                if time.time() >= deadline and sent >= min_count:
                    return
                sent += 1
                branch, query, rid = next_item()
            t0 = time.time()
            try:
                status, body = post(port, query, rid)
            except Exception as exc:  # connection-level failure
                status, body = 0, {"error": str(exc)}
            req = Req(branch, query, rid, t0, time.time(), status, body)
            with lock:
                done.append(req)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done


def route(query: str) -> tuple[str, str]:
    """The planner branch and SQL the engine's rule path gives ``query``."""
    star = plan_star(query)
    if star is not None and not (set(star.tables) - TABLES):
        return star.branch, star.sql
    p = plan(query)
    return p.branch, p.sql


def _close(made) -> None:
    _engine, server = made
    server.shutdown()
    server.server_close()


def _items(seed: int, traced: bool):
    """``(branch, query, rid)`` for every request. A traced run traces the
    window's rounds in the order U T T U (``rid`` set on T), so each branch
    has traced and untraced requests for the tracing overhead, and warming
    up as the run goes on favours neither side."""
    for i, (branch, query) in enumerate(questions.cold_stream(seed)):
        r = i // ROUND - WARM_ROUNDS
        yield branch, query, f"req-{i}" if traced and r >= 0 and r % 4 in (1, 2) else None


def run(prog, seed: int, seconds: float) -> dict:
    def build(spark):
        register_employees(spark)
        engine = DataFabricEngine(spark, tables=set(TABLES), llm_provider=False)
        return engine, api.serve(engine)

    setup, made = prog.setups(build, _close)
    engine, server = made
    port = server.server_address[1]

    items = _items(seed, prog.traced)
    try:
        # Untimed rounds warm every branch (request times keep falling for
        # ~30 s after the JVM starts), and the window then starts on a
        # round boundary and holds at least one round.
        host.phase("warm up")
        warm = closed_loop(port, items.__next__, 0.0, WARM_ROUNDS * ROUND)
        host.phase("measure")
        t_start = time.time()
        timed = closed_loop(port, items.__next__, seconds,
                            (4 if prog.traced else 1) * ROUND)
    finally:
        _close(made)

    host.phase("check")
    result = {
        "attempted": len(warm) + len(timed),
        "failed": _check(prog, warm + timed),
        "setup": setup,
    }
    if prog.traced:
        result["layers"] = lambda: _layers(prog, engine, timed)
    else:
        result["e2e"] = _end_to_end(timed, t_start, seconds)
    return result


def _by_branch(reqs: list[Req]) -> dict[str, float]:
    """Branch -> median client time (ms) of its successful requests."""
    kinds: dict[str, list[float]] = {}
    for r in reqs:
        if r.status == 200 and r.body.get("success"):
            kinds.setdefault(r.branch, []).append(r.ms)
    return {k: tr.median(v) for k, v in kinds.items()}


def _end_to_end(timed: list[Req], t_start: float, window: float) -> dict:
    # The latency median is taken over the branches' median latencies:
    # every round of questions visits each branch once, so this is the
    # request distribution without the noise of how many slow branches a
    # short window happened to catch.
    medians = list(_by_branch(timed).values())
    # each request counts by the share of its duration inside the window,
    # so requests cut by the deadline neither vanish nor count in full
    t_end = t_start + window
    completed = sum((min(r.end, t_end) - max(r.start, t_start)) / (r.end - r.start)
                    for r in timed
                    if r.start < t_end and r.status == 200 and r.body.get("success"))
    return {
        "throughput_ops": completed / window,
        "latency_p50_ms": tr.median(medians),
        "suite_s": sum(medians) / 1000.0,
        "geomean_ms": tr.geomean(medians),
    }


def _check(prog, reqs: list[Req]) -> int:
    """Failed requests: non-200 or unsuccessful answers, answers served
    from the cache, answers routed to another branch than intended, and
    star answers that differ from DuckDB running the same SQL."""
    failed = 0
    con = checks.duckdb_views(prog.data_dir, STAR_TABLES)
    expected: dict[str, tuple[int, str]] = {}
    for r in reqs:
        b = r.body
        if r.status != 200 or not b.get("success") or b.get("cached"):
            failed += 1
            continue
        branch, sql = route(r.query)
        if branch != r.branch or b.get("sql_query") != sql:
            failed += 1
        elif branch not in questions.EMPLOYEE_BRANCHES:
            if sql not in expected:
                expected[sql] = checks.duckdb_fingerprint(con, sql)
            failed += expected[sql] != checks.fingerprint_json(b["columns"], b["data"])
    con.close()
    return failed


def _layers(prog, engine, timed: list[Req]) -> dict:
    spans = prog.tracer.spans
    roots = {s.root: s for s in spans if s.parent is None and s.name == "api.handler"}
    per_root: dict[str, list[tr.Span]] = {rid: [] for rid in roots}
    for sp in spans:
        if sp.root in per_root:
            per_root[sp.root].append(sp)
    selfs = tr.self_times(spans)
    sums = report.span_sums(prog.tracer)

    # api: client time minus the engine.process span. unattributed: client
    # time minus the self times of every span of the request, i.e. the time
    # outside the HTTP handler's span (connect, parse, transfer), which no
    # span defines.
    api_self, unattributed = [], []
    for req in timed:
        if req.rid not in roots:
            continue
        own = per_root[req.rid]
        process_ms = sum(sp.ms for sp in own if sp.name == "engine.process")
        api_self.append(req.ms - process_ms)
        unattributed.append(req.ms - sum(selfs[sp.id] for sp in own) * 1000.0)

    traced = _by_branch([r for r in timed if r.rid is not None])
    untraced = _by_branch([r for r in timed if r.rid is None])
    overhead = [traced[b] - untraced[b] for b in traced if b in untraced]

    def med(*names, scale=1000.0):
        return tr.median([sum(sums.get(rid, {}).get(n, 0.0) for n in names) * scale
                          for rid in roots])

    out, _ = report.spark_layer(prog.event_log_path(), list(roots.values()), prog.cores)
    out.update({
        "api.self_ms": tr.median(api_self),
        "engine.process.self_ms": tr.median([selfs[sp.id] * 1000.0 for sp in spans
                                             if sp.name == "engine.process"]),
        "engine.cache.get_us": med("engine.cache.get", scale=1e6),
        "engine.query_log.entries": len(engine.query_log),
        "plans.plan_ms": med(*PLAN_SPANS),
        "plans.validator.validate_ms": med("plans.validator.validate_select"),
        "functions.serialization.serialize_ms": med("functions.serialization.serialize_rows"),
        "functions.serialization.rows": tr.median([r.body.get("row_count", 0) for r in timed
                                                   if r.rid in roots]),
        "spark.analyze_ms": med("spark.sql"),
        "spark.collect_ms": med("spark.collect"),
        "trace.overhead_ms": tr.median(overhead),
        "trace.unattributed_ms": tr.median(unattributed),
    })
    return out
