"""Run any registered query from the command line.

Usage:
  python tools/run_query.py <query_name> [--sf DIR] [--explain] [--n 20]
  python tools/run_query.py --list [--tag TAG]

Examples:
  python tools/run_query.py q1_pricing_summary
  python tools/run_query.py dedup_minhash_lsh --sf /root/testdata/sf0.1
  python tools/run_query.py sim_topk_cosine --explain
  python tools/run_query.py --list --tag dedup
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="registered query name")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    ap.add_argument("--explain", action="store_true", help="show formatted plan")
    ap.add_argument("--n", type=int, default=20, help="rows to show")
    ap.add_argument("--list", action="store_true", help="list queries")
    ap.add_argument("--tag", default=None, help="filter --list by tag")
    args = ap.parse_args()

    from etl_spark.plans import REGISTRY

    if args.list or not args.name:
        for name in sorted(REGISTRY):
            q = REGISTRY[name]
            if args.tag and args.tag not in q.tags:
                continue
            mark = "" if q.oracle else "  [rows-only]"
            print(f"{name}{mark}")
            if q.doc:
                print(f"    {q.doc[:100]}")
        return

    if args.name not in REGISTRY:
        sys.exit(f"unknown query {args.name!r}; try --list")

    from etl_spark.operators.caching import evict
    from etl_spark.session import get_spark, tune_session

    spark = tune_session(get_spark("run-query"))
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.name].builder(spark, args.sf)
    if args.explain:
        df.explain("formatted")
    t0 = time.perf_counter()
    n = df.count()
    elapsed = time.perf_counter() - t0
    df.show(args.n, truncate=60)
    print(f"{n} rows in {elapsed:.2f}s at {args.sf}")
    evict()


if __name__ == "__main__":
    main()
