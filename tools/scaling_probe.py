"""Generate SCALING.md: wall time for representative queries across
the three testdata scale factors (100x data span). The question the
probe answers is the 100 TB one: does cost grow with DATA or with the
QUERY? A plan that is ~flat from sf0.001 to sf0.01 and grows ~linearly
by sf0.1 is scheduling-overhead-bound locally and data-bound at scale
— the desired profile. Superlinear growth is the red flag.

Run: python tools/scaling_probe.py   (rewrites SCALING.md's table at
the checkout root, through tools/harness.py)
"""

from __future__ import annotations

import json
from functools import partial

from harness import ROOT, Harness, best  # puts the checkout root on sys.path

from etl_spark.plans import REGISTRY

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


def ladder(app: str, names: list[str], sfs: list[tuple[str, str]], reps: int) -> tuple[dict, dict]:
    """The run context, and query -> (min cold seconds, rows) per sf."""
    with Harness(app) as h:
        recs = h.sweep({f"{n}@{sf}": partial(REGISTRY[n].builder, h.spark, d) for n in names for sf, d in sfs}, reps)
    times = best(recs)
    return h.context, {n: [(times[f"{n}@{sf}"], recs[f"{n}@{sf}"][-1]["out"]) for sf, _ in sfs] for n in names}


def main() -> None:
    path = ROOT / "SCALING.md"
    old = path.read_text()
    idx = old.find(MANUAL_TAIL_MARKER)
    if idx < 0:
        # Refuse to regenerate rather than silently destroy the
        # hand-maintained evidence sections below the marker.
        raise SystemExit(
            f"SCALING.md lacks the marker {MANUAL_TAIL_MARKER!r}; "
            "restore it (or the manual tail) before regenerating"
        )
    context, cells = ladder("scaling-probe", [name for name, _ in PROBES], SFS, REPS)
    out = [
        "# SCALING — wall time across a 100x data span",
        "",
        "Generated by `tools/scaling_probe.py` (min of 3 cold reps per",
        "cell, the cells' order reversed between reps, local[cpus] as in",
        "the run context below). Reading guide: sf0.001 ~ pure Spark",
        "job overhead (6k lineitem rows); growth from sf0.01 -> sf0.1",
        "(10x data) approximates the data-bound slope that would carry",
        "to cluster scale. A 10x-data / <<10x-time ratio means the",
        "local numbers are overhead-dominated and the plan's scale",
        "behavior is governed by its shuffle structure (see PLANS.md),",
        "not these absolute times.",
        "",
        f"Run context: `{json.dumps(context)}`",
        "",
        "| query | role | sf0.001 | sf0.01 | sf0.1 | 10x-data slope |",
        "|---|---|---|---|---|---|",
    ]
    for name, role in PROBES:
        (a, _), (b, _), (c, _) = cells[name]
        slope = c / b if b > 0 else float("nan")
        out.append(
            f"| {name} | {role} | {a:.2f} s | {b:.2f} s | {c:.2f} s "
            f"| {slope:.1f}x |"
        )
    out.append("")
    # The slope-reading guidance lives in the hand-maintained
    # "## Reading the three-SF table" section carried forward below.
    out.append(old[idx:])
    path.write_text("\n".join(out))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
