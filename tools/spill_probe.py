"""Memory-pressure receipt: do the heaviest corpus queries SPILL
(gracefully) under constrained executor memory, instead of OOMing or
silently switching to a broadcast that would pin the build side?

The 100 TB argument everywhere else in this repo is structural (plan
shapes, decade ladders); this probe is the missing BEHAVIORAL half:
at a fixed data size, shrink the execution-memory pool hard and
verify each query (a) completes, (b) returns the same row count as
the unconstrained run, (c) reports sort/shuffle spill in the stage
metrics (proof the operators degrade to disk, the cluster-sized
failure mode being OOM), and (d) keeps its corpus-derived joins
SMJ/shuffle — no emergency broadcast appears in the executed plan.

Constraint levers (all session-creatable, no JVM restart games):
  * spark.memory.fraction=0.1  — execution+storage pool cut to 10%
    of heap (the spec-compliant way to simulate a small executor;
    driver.memory itself cannot change after JVM launch, and a
    fraction cut pressures exactly the pool sorts/aggregates use)
  * spark.sql.shuffle.partitions=4 — partitions ~8x bench size, so
    per-task working sets exceed the shrunken pool
  * AQE left ON (the production posture — this also receipts that
    AQE's coalescing does not defeat the spill path)

Usage: python tools/spill_probe.py [sf_dir] [fraction] [partitions] [q ...]
       (defaults /tmp/sf1 0.1 4 and the five heaviest queries)
Runs one cold, traced rep per query through tools/harness.py, on a 1g
heap and $SPARK_GRAFT_CPUS task slots (heap and fraction are passed
from outside, in PYSPARK_SUBMIT_ARGS). Writes one line per query:
rows, wall, spill bytes (memory + disk, from the Spark event log) and
the join operators of the executed plan; then one JSON summary line.

The measured tiers, and why the operative lever under starvation is
spark.sql.adaptive.advisoryPartitionSizeInBytes rather than the raw
partition count: SCALING.md 'Memory-pressure receipts'.
"""

from __future__ import annotations

import json
import sys
from functools import partial

from harness import Harness  # puts the checkout root on sys.path

from etl_spark.plans import REGISTRY

QUERIES = [
    "dedup_prefix_filter_pairs",
    "sim_knn_join",
    "ml_kmeans_lloyd",
    "dedup_clusters",
    "pipeline_ingest_triad",
]
JOINS = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")


def count_and_joins(df) -> tuple[int, list[str]]:
    """The row count, and the join operators of the executed plan."""
    rows = df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, [op for op in JOINS if op in plan]


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    fraction = sys.argv[2] if len(sys.argv) > 2 else "0.1"
    partitions = sys.argv[3] if len(sys.argv) > 3 else "4"
    queries = sys.argv[4:] or QUERIES
    # The 1g heap is the probe's fixed executor size: the pool the
    # fraction cuts is a share of it.
    confs = {"spark.driver.memory": "1g", "spark.memory.fraction": fraction}
    with Harness("spill-probe", trace=True, confs=confs) as h:
        # get_spark sizes shuffle partitions to the cores; the
        # constraint is set after it so that it holds.
        h.spark.conf.set("spark.sql.shuffle.partitions", partitions)
        recs = h.sweep({q: partial(REGISTRY[q].builder, h.spark, sf) for q in queries}, 1, count_and_joins)

    results = {}
    for name, (rec,) in recs.items():
        if "error" in rec:
            results[name] = {"error": rec["error"]}
            print(f"{name}: FAILED {rec['error']}", flush=True)
            continue
        (rows, joins), spill = rec["out"], rec["spill_bytes"]
        results[name] = {"rows": rows, "wall_sec": round(rec["s"], 2), "spill_bytes": spill, "joins": joins}
        print(f"{name}: rows={rows} wall={rec['s']:.1f}s spill={spill / 1e6:.1f}MB joins={joins}", flush=True)
    print(
        json.dumps(
            {
                **h.context,
                "sf": sf,
                "memory_fraction": float(fraction),
                "shuffle_partitions": int(partitions),
                "total_spill_bytes": sum(r.get("spill_bytes", 0) for r in results.values()),
                "queries": results,
            }
        )
    )
    if any("error" in r for r in results.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
