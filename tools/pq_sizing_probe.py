"""PQ codebook sizing probe: how recall and encode cost move together
as PQ_KS grows from the fixture setting (16) to production sizing
(64, 256) — the measurement behind the "spend memory on a finer
codebook, not more probes" claim in SCALING.md / tests/test_ivfpq.py.

Reuses the numpy replay from tests/test_ivfpq.py, which
test_spark_matches_python_replay_exactly pins bit-equal to the
shipped Spark pipeline AT the shipped constants — so the KS=16 row
below is the registered query's own number, and the KS=64/256 rows
run the identical algebra with only the codebook size rebound. The
encode kernel timed here is the same numpy expression the Spark
mapInPandas stage executes per Arrow batch, so its scaling IS the
pipeline's encode-cost scaling (O(N * KS) distance evaluations per
subspace).

Corpus: sf0.1 embeddings (2,000 uniform-random vectors — PQ's worst
case; KS=256 needs >= 256 seed vectors, which sf0.001's 500 provide
only thinly, so the bench-scale table is used).

The encode is timed through tools/harness.py: min of ENCODE_REPS reps
per codebook size, the sizes' order reversed between reps.

Usage: python tools/pq_sizing_probe.py   (prints a markdown table)
"""

from __future__ import annotations

import importlib.util
import json
import os
from functools import partial

import numpy as np
from harness import ROOT, Harness, best  # puts the checkout root on sys.path
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.plans.llm_similarity import DIM, PQ_M, quantize

_SPEC = importlib.util.spec_from_file_location("test_ivfpq", ROOT / "tests" / "test_ivfpq.py")
tiv = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(tiv)

SF_DIR = os.environ.get("PROBE_SF_DIR", "/root/testdata/sf0.1")
KS_SWEEP = (16, 64, 256)
ENCODE_REPS = 3


def replay(ids, V, ks):
    tiv.PQ_KS = ks  # _replay reads the module global
    return tiv._replay(ids, V)


def main() -> None:
    with Harness("pq-sizing-probe") as h:
        emb = load(h.spark, SF_DIR, "embeddings").select("vec_id", quantize(F.col("embedding")).alias("q"))
        rows = emb.orderBy("vec_id").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        V = np.array([r["q"] for r in rows], dtype=np.int64)
        recs = h.sweep({str(ks): partial(replay, ids, V, ks) for ks in KS_SWEEP}, ENCODE_REPS, action=lambda out: out)
    times = best(recs)

    print(f"context: {json.dumps(h.context)}")
    print(f"corpus: {len(ids)} vectors ({SF_DIR}), PQ_M={PQ_M}, "
          f"queries {tiv.PQ_QUERY_LO}..{tiv.PQ_QUERY_HI - 1}, "
          f"recall@{tiv.PQ_TOPK} vs global brute force, "
          f"nprobe={tiv.N_PROBE}\n")
    print("| PQ_KS | recall@10 (ADC) | +exact rerank(50) | encode s "
          f"(min of {ENCODE_REPS}) | code bits/vec | codebook ints |")
    print("|---|---|---|---|---|---|")
    for ks in KS_SWEEP:
        cls, cents, CB, codes = recs[str(ks)][-1]["out"]
        raw, _ = tiv._recall_curve(ids, V, cls, cents, CB, codes, tiv.N_PROBE)
        rer, _ = tiv._recall_curve(ids, V, cls, cents, CB, codes, tiv.N_PROBE, rerank=5 * tiv.PQ_TOPK)
        bits = PQ_M * int(np.ceil(np.log2(ks)))
        print(
            f"| {ks} | {raw:.3f} | {rer:.3f} | {times[str(ks)]:.2f} s "
            f"| {bits} (vs {DIM * 32} raw) | {ks * DIM} |"
        )


if __name__ == "__main__":
    main()
