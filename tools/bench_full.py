#!/usr/bin/env python
"""Full-registry timing sweep (round artifact BENCH_FULL_r{N}.json):
$BENCH_FULL_REPS (default 2) cold reps of EVERY registered query at
$SPARK_GRAFT_SF_DIR (default: bench scale, as bench.py), through
tools/harness.py. The min per query is recorded, every rep is kept in
"queries_reps". Complements bench.py's frozen HEADLINE set; pair with
tools/bench_delta.py, which divides out the sweep-wide noise scalar
before applying the 2x bar. BENCH_FULL_r09 and older kept session
caches warm across reps; the JSON's "eviction" says which kind a sweep
is, and only sweeps of the same kind compare.

Usage: python tools/bench_full.py > BENCH_FULL_r12.json
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

from harness import Harness  # puts the checkout root on sys.path

from etl_spark.io import default_sf_dir
from etl_spark.plans import REGISTRY


def main() -> None:
    sf_dir = default_sf_dir()
    reps_n = int(os.environ.get("BENCH_FULL_REPS", "2"))
    with Harness("etl-spark-bench-full") as h:
        recs = h.sweep({n: partial(REGISTRY[n].builder, h.spark, sf_dir) for n in sorted(REGISTRY)}, reps_n)

    failures = {n: r[-1]["error"] for n, r in recs.items() if "error" in r[-1]}
    reps = {n: [x["s"] for x in r] for n, r in recs.items() if n not in failures}
    times = {n: min(v) for n, v in reps.items()}
    print(
        json.dumps(
            {
                "metric": "full_registry_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "n_queries": len(times),
                "reps_per_query": reps_n,
                # Shared host: co-tenant load swings wall times 2-3x, so
                # a sweep at load 15 is not comparable to one at load 2.
                "loadavg_1m_5m_15m": h.context.pop("loadavg"),
                **h.context,
                "queries": times,
                "queries_reps": reps,
                "failures": failures,
                "sf": sf_dir,
            }
        )
    )
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
