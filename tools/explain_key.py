#!/usr/bin/env python
"""Dump `.explain("formatted")` for given registry keys to files.

Used by the optimization rounds to capture before/after physical plans
(`plans/r14/<key>_before.txt` / `_after.txt`) so plan-shape claims in
OPTIMIZATION_r*.md are checkable without running Spark.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", required=True, help="comma-separated registry keys")
    ap.add_argument("--suffix", default="before", help="file suffix (before/after)")
    ap.add_argument(
        "--out-dir", default=os.path.join(REPO, "plans", "r14")
    )
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)

    from etl_ch_destination_spark.session import get_spark

    spark = get_spark(app_name="explain-key")
    spark.sparkContext.setLogLevel("ERROR")

    from etl_ch_destination_spark.registry import all_queries

    queries = all_queries()
    for key in [k for k in args.keys.split(",") if k]:
        df = queries[key](spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.out_dir, f"{key}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
