"""The program under test, reached only through its public entry points.

``Program`` owns the Spark session (always from the package's
``get_spark()``), the generated corpus, and, in a traced run, the spans
around the package's public calls and the Spark event log.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager

import host
import spans as tr

import ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark as fabric
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
    api,
    engine as engine_mod,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators import (
    registry,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans import (
    planner,
    star_planner,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
    catalog,
    sinks,
)

#: Set-ups per run on a fresh session after the one that launches the JVM;
#: setup_s is their median.
SETUP_REPS = 3

#: Request header that makes the HTTP handler open a traced root span; its
#: value is the request id.
TRACE_HEADER = "X-Perfbench-Request"


class Program:
    def __init__(self, work: str, data_dir: str, traced: bool):
        self.work = work
        self.data_dir = data_dir
        self.traced = traced
        self.tracer = tr.Tracer()
        self.spark = None
        self._old_sessions = []
        self.cores = host.cores()
        self._conf = None
        if traced:
            events = os.path.join(work, "events")
            os.makedirs(events, exist_ok=True)
            self._conf = {
                "spark.eventLog.enabled": "true",
                # zstd, the default codec, needs a module this reader lacks
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + events,
            }
            self._install_wrappers()

    # -- tracing ---------------------------------------------------------------
    def _install_wrappers(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        t = self.tracer
        tr.wrap(t, planner.Planner, "plan_llm", "plans.plan_llm")
        tr.wrap(t, planner.Planner, "plan_cascade", "plans.plan_cascade")
        tr.wrap(t, star_planner, "plan_star", "plans.plan_star")
        tr.wrap(t, engine_mod, "validate_select", "plans.validator.validate_select")
        tr.wrap(t, engine_mod, "serialize_rows", "functions.serialization.serialize_rows")
        tr.wrap(t, engine_mod.TTLCache, "get", "engine.cache.get")
        tr.wrap(t, engine_mod.TTLCache, "set", "engine.cache.set")
        tr.wrap(t, SparkSession, "sql", "spark.sql")
        tr.wrap(t, DataFrame, "collect", "spark.collect")
        # operators import the sink writers at call time, so patching the
        # module attributes reaches them
        for writer in ("write_partitioned", "write_bucketed", "write_zordered", "append_log"):
            tr.wrap(t, sinks, writer, "sources.sinks.write")
        tr.wrap(t, catalog, "register_views", "sources.catalog.register_views")
        tr.wrap(t, registry, "register_views", "sources.catalog.register_views")

        process = engine_mod.DataFabricEngine.process

        def traced_process(engine, user_query):
            cur = t.current()
            if cur is None:
                return process(engine, user_query)
            engine.spark.sparkContext.setJobGroup(cur.root, "perfbench request")
            with t.span("engine.process"):
                return process(engine, user_query)

        engine_mod.DataFabricEngine.process = traced_process

        make_handler = api.make_handler

        def traced_make_handler(engine):
            handler = make_handler(engine)
            do_post = handler.do_POST

            def traced_post(h):
                rid = h.headers.get(TRACE_HEADER)
                if rid is None:
                    return do_post(h)
                with t.root(rid, "api.handler"):
                    return do_post(h)

            handler.do_POST = traced_post
            return handler

        api.make_handler = traced_make_handler

    @contextmanager
    def op_root(self, rid: str, name: str):
        """Root span for one benchmark operation; the Spark jobs it starts on
        this thread carry ``rid`` as their job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(rid, "perfbench op")
        try:
            with self.tracer.root(rid, name) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- session ---------------------------------------------------------------
    def setups(self, build, close=None) -> tuple[list[float], object]:
        """Set the workload up ``1 + SETUP_REPS`` times, each time on a new
        session: ``get_spark()``, ``register_views``, then ``build(spark)``.
        The first set-up also launches the JVM. Returns each set-up's
        seconds and the last ``build`` result. Stopping the previous session
        and ``close(previous result)`` happen outside the timed part."""
        times, made = [], None
        for i in range(1 + SETUP_REPS):
            host.phase(f"setup {i}")
            if made is not None and close is not None:
                close(made)
            if self.spark is not None:
                # Keep the stopped session referenced: the catalog caches
                # views by session object id, which must not be reused.
                self._old_sessions.append(self.spark)
                self.spark.stop()
            with self.tracer.root(f"setup-{i}", "setup"):
                t0 = time.perf_counter()
                self.spark = fabric.get_spark(app_name="perfbench", extra_conf=self._conf)
                catalog.register_views(self.spark, self.data_dir)
                made = build(self.spark)
                times.append(time.perf_counter() - t0)
        self.app_id = self.spark.sparkContext.applicationId
        return times, made

    def event_log_path(self) -> str | None:
        """The current session's event log (complete once it has stopped)."""
        if not self.traced or self.spark is None:
            return None
        paths = glob.glob(os.path.join(self.work, "events", "*" + self.app_id + "*"))
        return paths[0] if paths else None

    def conf_stamp(self) -> dict:
        get = self.spark.conf.get
        return {
            "spark.sql.shuffle.partitions": get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.enabled": get("spark.sql.adaptive.enabled"),
            "spark.driver.memory": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark.master": self.spark.sparkContext.master,
        }

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def rss_peak_mb(self) -> float:
        pid = self.jvm_pid()
        return host.vm_hwm_mb() + (host.vm_hwm_mb(pid) if pid else 0.0)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
