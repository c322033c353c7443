#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named registry queries under
the bench's own session regime.

Writes one text file per query to --out-dir with the given --suffix, e.g.
plans/r15/tpch_q5_local_supplier_volume_after.txt. To diff plan shapes
without running Spark, run it once from each checkout (parent and change)
with a different suffix:

    python tools/capture_plans.py --out-dir plans/next --suffix after \
        tpch_q5_local_supplier_volume cdc_merge_incremental

The corpus is re-chunked and the session built exactly as bench.py does
(``bench._rechunk`` + ``bench.session_conf``), so the plans are the ones
the bench runs. Queries whose construction performs eager work (bucketed
writes, streaming drains) execute that work untimed here — identical to
what bench.py does at plan-construction time.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=bench.DEFAULT_SF_DIR)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = bench._rechunk(args.sf_dir)
    conf = bench.session_conf(sf_dir)
    print(f"# session conf: {conf}", file=sys.stderr)
    spark = bench.get_spark(app_name="plan-capture", extra_conf=conf)
    qs = bench.queries()
    os.makedirs(args.out_dir, exist_ok=True)
    jvm = spark.sparkContext._jvm
    for name in args.names:
        df = qs[name](spark, sf_dir)
        text = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
