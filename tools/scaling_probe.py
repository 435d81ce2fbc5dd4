"""Generate SCALING.md: wall time for representative queries across
the three testdata scale factors (100x data span). The question the
probe answers is the 100 TB one: does cost grow with DATA or with the
QUERY? A plan that is ~flat from sf0.001 to sf0.01 and grows ~linearly
by sf0.1 is scheduling-overhead-bound locally and data-bound at scale
— the desired profile. Superlinear growth is the red flag.

Run: python tools/scaling_probe.py   (writes /root/repo/SCALING.md)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from etl_spark.operators.caching import evict, evict_session_memos  # noqa: E402
from etl_spark.plans import REGISTRY  # noqa: E402
from etl_spark.session import get_spark, tune_session  # noqa: E402

SFS = [
    ("sf0.001", "/root/testdata/sf0.001"),
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
]

PROBES = [
    ("q1_pricing_summary", "scan + hash agg"),
    ("q5_local_supplier_volume", "5-way broadcast join"),
    ("window_latest_order_per_customer", "window dedup (S14 shape)"),
    ("dedup_minhash_lsh", "shingle index + LSH bands (cold each sf)"),
    ("sim_topk_cosine", "Arrow-vectorized exact ANN baseline"),
    ("text_langid_ngram", "200x trigram explode + broadcast profile"),
    ("curation_pack_sequences", "partitioned cumsum packing"),
    ("agg_equidepth_deciles", "two-phase prefix rank (r4 rewrite)"),
    ("customer_rfm_segments", "3x bucketed NTILE (r4 rewrite)"),
    ("customer_revenue_pareto", "bucketed running sum (r4 rewrite)"),
    ("sim_ivf_kmeans_probe", "trained-quantizer IVF probe (late r4)"),
    ("dedup_semantic_cluster", "cluster-then-compare dedup (late r4)"),
    ("curation_strip_dup_segments", "segment-level dedup + reassembly"),
    ("curation_train_val_split", "content-hash split + leakage audit"),
    ("pipeline_embed_index", "dedup + quantizer-train + assign (late r4)"),
    ("sim_pq_adc", "PQ encode + ADC lookup-table scan (r5)"),
    ("sim_ivfpq_search", "IVF-PQ: probe + residual ADC (r5)"),
    ("mm_phash_neardup", "payload phash + Hamming-LSH banding (r5)"),
    ("graph_dup_pagerank", "3x integer power iteration (r5)"),
    ("mm_phash_pixels_neardup", "decoded-pixel phash near-dup (r6)"),
    ("sim_ivfpq_rerank", "IVF-PQ + exact-rerank refine (r6)"),
    ("join_bloom_prefilter_revenue", "bloom-prefiltered selective join (r10)"),
    ("curation_split_leakage_pairs", "cross-split LSH leakage audit (r10)"),
]

# Everything from this heading down is maintained by hand (decade-up
# bench, skew receipts, heap bisect). The probe regenerates only the
# three-SF table above it and must carry this tail forward verbatim.
MANUAL_TAIL_MARKER = "## Another decade up"

REPS = 3


def _evict(spark) -> None:
    """Cold caches for every rep: the catalog cache, the session
    registry, and the memos (trained models, centroids, tables) that
    survive clearCache — the same eviction as perfbench/run.py."""
    spark.catalog.clearCache()
    evict()
    evict_session_memos()


def main() -> None:
    spark = tune_session(get_spark("scaling-probe"))
    spark.sparkContext.setLogLevel("ERROR")
    # JIT warm-up on the smallest sf so sf0.001 isn't charged for it.
    for name, _ in PROBES:
        REGISTRY[name].builder(spark, SFS[0][1]).count()
    _evict(spark)

    results: dict[str, list[float]] = {}
    for name, _ in PROBES:
        times = []
        for _, sf_dir in SFS:
            best = None
            for _ in range(REPS):
                _evict(spark)
                t0 = time.perf_counter()
                REGISTRY[name].builder(spark, sf_dir).count()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            times.append(best)
        results[name] = times
        print(name, [f"{t:.2f}" for t in times])

    out = [
        "# SCALING — wall time across a 100x data span",
        "",
        "Generated by `tools/scaling_probe.py` (min of 3 reps per cell,",
        "cold caches, local[32]). Reading guide: sf0.001 ~ pure Spark",
        "job overhead (6k lineitem rows); growth from sf0.01 -> sf0.1",
        "(10x data) approximates the data-bound slope that would carry",
        "to cluster scale. A 10x-data / <<10x-time ratio means the",
        "local numbers are overhead-dominated and the plan's scale",
        "behavior is governed by its shuffle structure (see PLANS.md),",
        "not these absolute times.",
        "",
        "| query | role | sf0.001 | sf0.01 | sf0.1 | 10x-data slope |",
        "|---|---|---|---|---|---|",
    ]
    for name, role in PROBES:
        a, b, c = results[name]
        slope = c / b if b > 0 else float("nan")
        out.append(
            f"| {name} | {role} | {a:.2f} s | {b:.2f} s | {c:.2f} s "
            f"| {slope:.1f}x |"
        )
    out.append("")
    # The slope-reading guidance lives in the hand-maintained
    # "## Reading the three-SF table" section carried forward below.
    # Preserve the hand-maintained evidence sections (decade-up bench,
    # skew receipts, heap bisect) that live below the generated table.
    with open("/root/repo/SCALING.md") as f:
        old = f.read()
    idx = old.find(MANUAL_TAIL_MARKER)
    if idx < 0:
        # Refuse to regenerate rather than silently destroy the
        # hand-maintained evidence sections below the marker.
        raise SystemExit(
            f"SCALING.md lacks the marker {MANUAL_TAIL_MARKER!r}; "
            "restore it (or the manual tail) before regenerating"
        )
    out.append(old[idx:])
    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(out))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
