"""Dump .explain("formatted") for a list of queries to plans/<round>/
($PLAN_DUMP_ROUND, default r11).

Usage: python tools/plan_dump.py before|after [query ...]
Defaults to the headline bench set plus the full-sweep heavy hitters.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from etl_spark.operators.caching import evict  # noqa: E402
from etl_spark.plans import REGISTRY  # noqa: E402
from etl_spark.session import get_spark, tune_session  # noqa: E402

SF = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", os.environ.get("PLAN_DUMP_ROUND", "r11"))

# Headline set + the slowest full-sweep queries (r9 BENCH_FULL minimums).
DEFAULT = [
    *HEADLINE,
    "ml_kmeans_lloyd", "ml_logreg_train", "dedup_prefix_filter_pairs",
    "sim_knn_join", "mm_phash_clusters", "graph_dup_triangles",
    "customer_rfm_segments", "dedup_minhash_error", "dedup_clusters",
    "pipeline_ingest_triad", "dq_profile_orders", "agg_equidepth_deciles",
    "dedup_threshold_sweep", "pipeline_embed_index", "curation_quality_lift",
    "text_tfidf_top_terms", "dedup_containment_pairs",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    os.makedirs(OUT, exist_ok=True)
    spark = tune_session(get_spark("plan-dump"))
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].builder(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    evict()


if __name__ == "__main__":
    main()
