"""Seeded synthetic star schema in the layout the operators read.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names, types
and value distributions of the engine's test corpus: uniform keys, TPC-H-like
enumerations, a 30-day event stream, bag-of-words documents with ~5%
near-duplicates, and unit-norm 64-d embeddings. Row counts scale with ``sf``
exactly as the test corpus does (sf0.1: 600k lineitem rows).

The same ``(seed, sf)`` always produces byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us, n_days, n):
    return pa.array(start_us + rng.integers(0, n_days, n) * _US_PER_DAY,
                    pa.timestamp("us"))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, k)),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, k),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, k)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, 2499, k),
    })
    k = n["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, k)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, k, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, k)], pa.string()),
    })
    out["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    vec = rng.standard_normal((k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k).astype(np.int32)),
    })
    return out


def _documents(rng, k: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(k)]
    # ~5% near-duplicates: an earlier document's text plus one marker word.
    for i in np.flatnonzero(rng.random(k) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, k),
        "source": pa.array([f"src{i % 20}" for i in range(k)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` as ``<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return out_dir


def ensure_corpus(path: str, seed: int, sf: float) -> str:
    """The corpus at ``path``, written first if it is not there yet.

    It is written to a sibling directory and renamed into place, so a run
    that is stopped half-way leaves no partial corpus for the next one.
    """
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        write_corpus(tmp, seed, sf)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):  # else a concurrent run wrote it
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
