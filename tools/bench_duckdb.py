#!/usr/bin/env python
"""DuckDB side of the bench ratio curve on its own: bench.py's in-process
DuckDB reference pass (``bench.duckdb_reference``: same re-chunked parquet,
same cells, same adaptive pass rule) without the Spark suite, one JSON
line out.

Usage: python tools/bench_duckdb.py <sf_dir>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def main() -> None:
    sf_dir = sys.argv[1]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_dir = bench._rechunk(sf_dir)
    # Same page-cache warm as bench.py: a cold first pass measures disk.
    bench._warm_page_cache(sf_dir)
    timings, errors, _partial = bench.duckdb_reference(
        sf_dir, bench.selected_cells(), bench.pass_budget_s()
    )
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_suite_wall_clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "errors": errors,
            }
        )
    )


if __name__ == "__main__":
    main()
