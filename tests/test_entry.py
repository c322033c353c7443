"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"r_name", "c_mktsegment", "revenue", "n_items"} == set(df.columns)


def test_every_oracle_key_has_query():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


def test_bench_final_line_always_fits_tail_budget():
    """The driver parses the LAST stdout line from a ~2000-char tail
    capture; r07's artifact was unreadable because the line outgrew it.
    The guard must hold even for a 200-cell suite with long names."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))
    import bench

    names = [f"some_quite_long_operator_name_{i:03d}" for i in range(200)]
    evidence = {
        "metric": "headline_suite_wall_clock",
        "value": 123.456,
        "queries": {n: 1.234 for n in names},
        "sf": 0.1,
        "duckdb_reference": {
            "ratio_common": 1.23,
            "ratio_common_symmetric": 1.11,
        },
    }
    line = bench.final_line(evidence, names, "/tmp/evidence.json")
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["n_cells"] == 200
    assert parsed["ratio_common"] == 1.23
    # the driver pairs on queries as a FLAT name->sec dict (r14 verdict
    # item 1: the nested _truncated_worst_first form made PERF blind for
    # two rounds) — every value must be a number, in EVERY path
    assert all(
        isinstance(v, (int, float)) for v in parsed["queries"].values()
    )
    # and a small suite keeps full per-query precision
    small = dict(evidence, queries={"q1": 1.234, "q2": 0.567})
    parsed = json.loads(bench.final_line(small, ["q1", "q2"], None))
    assert parsed["queries"] == {"q1": 1.234, "q2": 0.567}
    assert "queries_truncated" not in parsed
    # oversized suite AND a failed evidence write (ADVICE r08: the old
    # fallback emitted a null file pointer and lost every per-query
    # value): the line must still fit AND carry the worst cells first
    big = dict(
        evidence,
        queries={n: float(i) for i, n in enumerate(names)},
    )
    line = bench.final_line(big, names, None)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert kept, "fallback dropped every per-query value"
    assert all(isinstance(v, (int, float)) for v in kept.values())
    # truncation is signalled by SIBLING keys, never by nesting
    assert parsed["queries_truncated"] is True
    assert parsed["n_cells_omitted"] == 200 - len(kept)
    # worst-first: the slowest cell must be present, the fastest absent
    assert "some_quite_long_operator_name_199" in kept
    assert "some_quite_long_operator_name_000" not in kept
    # the REAL suite shape (47 cells, real name lengths, both ratios,
    # asymmetric list, a repo evidence path) must fit WITHOUT truncation —
    # this is the exact r14 failure reproduced: 47 cells overflowed and
    # the old guard nested the dict
    real_names = [
        "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
        "tpch_q4_order_priority", "tpch_q8_market_share",
        "tpch_q13_customer_distribution",
        "tpch_q18_large_volume_customers",
        "tpch_q22_global_sales_opportunity", "join_star_flagship",
        "filter_not_null_group_count", "window_rank_per_group",
        "events_sessionize", "events_tumbling_window",
        "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "similarity_bruteforce_topk", "similarity_bucketed_ann",
        "text_fingerprint", "text_quality_score", "dedup_components",
        "text_decontaminate", "text_pii_scrub", "sampling_pack_shards",
        "events_funnel_conversion", "bucketed_join_revenue",
        "graph_pagerank_parts", "text_tfidf_top_terms",
        "text_repetition_stats", "cdc_merge_apply", "cdc_scd2_intervals",
        "cdc_merge_incremental", "basket_lift_rules",
        "events_markov_transitions", "window_yoy_growth",
        "window_range_interval_trailing", "sampling_temperature_mix",
        "streaming_dedup_watermark", "streaming_tumbling_hourly",
        "pipeline_curation_funnel", "cdc_merge_pruned",
        "sampling_pack_context_windows", "embedding_quantize_error",
        "text_unigram_surprisal", "dedup_minhash_incremental",
        "streaming_cdc_upsert_bucketed", "streaming_dedup_minhash",
    ]
    assert sorted(real_names) == sorted(bench.HEADLINE)
    real = {
        "metric": "headline_suite_wall_clock",
        "value": 21.272,
        "queries": {n: 1.234 for n in real_names},
        "sf": 0.1,
        "duckdb_reference": {
            "ratio_common": 0.82,
            "ratio_common_symmetric": 0.63,
        },
    }
    line = bench.final_line(
        real, real_names, "/root/repo/bench_evidence.json"
    )
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert len(parsed["queries"]) == len(real_names), (
        "the real 47-cell suite must emit EVERY cell flat, untruncated"
    )
    assert "queries_truncated" not in parsed


def test_asymmetric_cells_pinned():
    """The symmetric-ratio exclusion set is governed by the admission rule
    in bench.py (r11 verdict item 7): a new exclusion requires a
    structural reason in the artifact, a BASELINE.md justification, AND an
    update to this pin — so the set can never grow silently between
    rounds."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))
    import bench

    assert set(bench.ASYMMETRIC_CELLS) == {
        "cdc_merge_incremental",
        "cdc_merge_apply",
        "streaming_dedup_watermark",
        "streaming_tumbling_hourly",
        "streaming_cdc_upsert_bucketed",
        "streaming_dedup_minhash",
    }
    for name, reason in bench.ASYMMETRIC_CELLS.items():
        assert isinstance(reason, str) and len(reason) > 20, name


def _bench():
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))
    import bench

    return bench


def test_session_conf_small_corpus_regime(monkeypatch):
    """sf0.1 keeps the regime bench.py has always run it under; only the
    heap is derived from the host, and SPARK_DRIVER_MEMORY still wins."""
    import os

    bench = _bench()
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    conf = bench.session_conf(bench.DEFAULT_SF_DIR)
    heap = conf.pop("spark.driver.memory")
    assert conf == {
        "spark.sql.files.maxPartitionBytes": str(256 << 20),
        "spark.sql.files.openCostInBytes": str(256 << 20),
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(10 << 20),
        "spark.ui.showConsoleProgress": "false",
    }
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap.endswith("g")
    assert 1 <= int(heap[:-1]) < 32
    assert int(heap[:-1]) << 30 <= ram
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert bench.session_conf(bench.DEFAULT_SF_DIR)["spark.driver.memory"] == "3g"


def test_session_conf_large_corpus_regime(tmp_path, monkeypatch):
    """Past 64 MiB in the largest table: one shuffle partition per core,
    AQE on, and the broadcast threshold capped at 64 MiB."""
    bench = _bench()
    with open(tmp_path / "lineitem.parquet", "wb") as fh:
        fh.truncate(2 << 30)  # sparse: sized, but holds no disk blocks
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = bench.session_conf(str(tmp_path))
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == str(64 << 20)


def _tool_paths():
    import pathlib

    return sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py"))


def test_every_tool_imports_cleanly():
    import importlib.util

    paths = _tool_paths()
    assert paths
    for path in paths:
        spec = importlib.util.spec_from_file_location(f"tool_{path.stem}", path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_tools_launch_spark_from_bench_session_conf():
    """A tool that starts a Spark session must take its conf from
    bench.session_conf, so it runs under the bench's regime and cannot
    drift from it."""
    import ast

    def name(func):
        return getattr(func, "id", None) or getattr(func, "attr", None)

    def calls_session_conf(node):
        return isinstance(node, ast.Call) and name(node.func) == "session_conf"

    launching = []
    for path in _tool_paths():
        tree = ast.parse(path.read_text())
        conf_names = {
            t.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign) and calls_session_conf(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and name(node.func) == "get_spark":
                launching.append(path.name)
                conf = {k.arg: k.value for k in node.keywords}.get("extra_conf")
                assert calls_session_conf(conf) or (
                    isinstance(conf, ast.Name) and conf.id in conf_names
                ), f"{path.name} builds its own Spark conf"
    assert "capture_plans.py" in launching
