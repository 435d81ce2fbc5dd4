"""sim_knn_join invariants beyond oracle parity: recall against the
exact brute-force join, chunk-size invariance of the blocked scoring,
and exactness when every cell is probed."""

from __future__ import annotations

import numpy as np
import pytest

import etl_spark.plans.llm_similarity as sim
import etl_spark.plans.ml as ml
from etl_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def _brute_force_topk(spark, k):
    """Driver-side exact top-k join (A = even vec_ids, B = odd), same
    quantization / cosine / tiebreak arithmetic as the query."""
    rows = (
        sim._quantized(spark, SF_DIR)
        .select("vec_id", "q")
        .collect()
    )
    vecs = {r["vec_id"]: np.array(r["q"], dtype=np.float64) for r in rows}
    vecs = {i: v for i, v in vecs.items() if (v @ v) > 0}
    a_ids = sorted(i for i in vecs if i % 2 == 0)
    b_ids = sorted(i for i in vecs if i % 2 == 1)
    B = np.vstack([vecs[i] for i in b_ids])
    b_norm = np.einsum("ij,ij->i", B, B)
    out = {}
    for qid in a_ids:
        q = vecs[qid]
        cos = (B @ q) / np.sqrt(b_norm * (q @ q))
        idx = np.argsort(-cos, kind="stable")[:k]  # b_ids ascending = tiebreak
        out[qid] = [(int(b_ids[j]), float(cos[j])) for j in idx]
    return out


def _run(spark):
    return {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["cos_sim"])
        for r in REGISTRY["sim_knn_join"].builder(spark, SF_DIR).collect()
    }


def test_knn_join_recall_and_score_fidelity(spark):
    exact = _brute_force_topk(spark, ml.TOP_K)
    got = _run(spark)
    by_query: dict[int, list] = {}
    for (qid, rnk), (nid, cos) in sorted(got.items()):
        by_query.setdefault(qid, []).append((nid, cos))
    # Every left vector gets an answer (no query silently dropped) ...
    assert set(by_query) == set(exact)
    hits = total = 0
    for qid, pairs in by_query.items():
        want_ids = {nid for nid, _ in exact[qid]}
        got_ids = [nid for nid, _ in pairs]
        assert len(got_ids) == len(set(got_ids))  # no duplicate neighbor
        hits += len(want_ids & set(got_ids))
        total += len(want_ids)
        # ... and every reported score is the TRUE cosine (ANN may miss
        # neighbors, but must never mis-score one it returns).
        truth = dict(exact[qid])
        for nid, cos in pairs:
            if nid in truth:
                assert cos == truth[nid]
    recall = hits / total
    # Measured 0.36 on the sf0.01 fixture (uniform-random vectors —
    # ANN's worst case, no cluster structure for IVF to exploit) at
    # nprobe=2 of ~15 cells: ~13% of the corpus scanned for ~2.7x the
    # recall of a random 13% sample — the enrichment IS the quantizer
    # working; the absolute number is fixture-bound, same story as
    # SCALING.md's IVF-PQ recall table. Floor set with margin.
    assert recall >= 0.25, recall


def test_knn_join_exact_when_all_cells_probed(spark, monkeypatch):
    # nprobe >= k ⇒ every candidate scored ⇒ result == brute force.
    monkeypatch.setattr(ml, "N_PROBE", 10_000)
    got = _run(spark)
    exact = _brute_force_topk(spark, ml.TOP_K)
    want = {
        (qid, rnk + 1): (nid, cos)
        for qid, pairs in exact.items()
        for rnk, (nid, cos) in enumerate(pairs)
    }
    assert got == want


def test_knn_join_chunk_size_invariant(spark, monkeypatch):
    base = _run(spark)
    monkeypatch.setattr(sim, "NN_CELL_CHUNK", 7)  # force multi-chunk cells
    assert _run(spark) == base


def test_knn_join_recall_sweeps_monotonically_with_nprobe(spark, monkeypatch):
    """The nprobe knob must buy recall monotonically (more cells
    scanned -> never fewer true neighbors found) and reach 1.0 when
    every cell is probed — the absolute recall-vs-cost curve for the
    join, mirroring tests/test_ivfpq.py's contract for the search
    path. Uses recall@TOP_K vs the brute-force join."""
    exact = _brute_force_topk(spark, ml.TOP_K)

    def recall_at(nprobe: int) -> float:
        monkeypatch.setattr(ml, "N_PROBE", nprobe)
        got = _run(spark)
        by_query: dict[int, set] = {}
        for (qid, _rnk), (nid, _cos) in got.items():
            by_query.setdefault(qid, set()).add(nid)
        hits = sum(
            len({nid for nid, _ in exact[qid]} & by_query.get(qid, set()))
            for qid in exact
        )
        total = sum(len(v) for v in exact.values())
        return hits / total

    curve = [(p, recall_at(p)) for p in (1, 2, 4, 8, 10_000)]
    for (_, lo), (_, hi) in zip(curve, curve[1:]):
        assert hi >= lo, curve
    assert curve[-1][1] == 1.0, curve  # all cells probed = exact
    # The shipped point must clear the registered query's floor.
    shipped = dict(curve)[2]
    assert shipped >= 0.25, curve
