"""Unit tests of the exact-vector kernels (``operators/vectors.py``):
pure numpy, no Spark session."""

from __future__ import annotations

import numpy as np

from etl_spark.operators import vectors
from etl_spark.operators.vectors import cell_topk, cosine, pq_encode, sq_dist, topk


def test_sq_dist_and_cosine_match_the_definitions():
    rng = np.random.default_rng(0)
    X = rng.integers(-1000, 1000, (5, 8)).astype(np.float64)
    Y = rng.integers(-1000, 1000, (3, 8)).astype(np.float64)
    for i in range(5):
        for j in range(3):
            assert sq_dist(X, Y)[i, j] == ((X[i] - Y[j]) ** 2).sum()
            assert cosine(X, Y)[i, j] == (X[i] @ Y[j]) / np.sqrt(
                (X[i] @ X[i]) * (Y[j] @ Y[j])
            )
    Xi = X.astype(np.int64)
    assert sq_dist(Xi, Xi).dtype == np.int64


def test_topk_breaks_equal_scores_to_the_lowest_id():
    scores = np.array([2.0, 1.0, 1.0, 0.5, 1.0])
    ids = np.array([9, 7, 3, 8, 5])
    assert list(ids[topk(scores, ids, 3)]) == [8, 3, 5]
    assert len(topk(scores, ids, 10)) == 5  # k above the candidate count


def test_pq_encode_breaks_ties_to_the_lowest_codeword():
    # one subspace of width 1: 1 is equidistant from codewords 0 and 2
    CB = np.array([[[2]], [[0]], [[0]]])
    X = np.array([[[1]], [[3]], [[0]]])
    assert pq_encode(X, CB).tolist() == [[0], [0], [1]]


def _cell():
    # query 10 and candidates 3, 1 and 10 (itself); 3 and 1 are the
    # same direction, so they tie on cosine
    q_ids = np.array([10])
    Q = np.array([[1.0, 1.0]])
    c_ids = np.array([3, 10, 1, 4])
    C = np.array([[2.0, 2.0], [1.0, 1.0], [5.0, 5.0], [1.0, 0.0]])
    return q_ids, Q, c_ids, C


def test_cell_topk_k1_masks_self_and_takes_the_lowest_tied_id():
    rows, nbrs, cos = cell_topk(*_cell(), 1)
    assert rows.tolist() == [0]
    assert nbrs.tolist() == [1]
    assert np.isclose(cos[0], 1.0)


def test_cell_topk_k_above_candidates_ranks_ties_by_id():
    rows, nbrs, cos = cell_topk(*_cell(), 10)
    assert rows.tolist() == [0, 0, 0]  # self dropped, k capped at 3
    assert nbrs.tolist() == [1, 3, 4]
    assert cos[0] == cos[1] > cos[2]


def test_cell_topk_drops_a_query_whose_chunk_holds_only_itself():
    q_ids = np.array([5, 6])
    Q = np.array([[1.0, 0.0], [0.0, 1.0]])
    for k in (1, 2):
        rows, nbrs, _ = cell_topk(q_ids, Q, np.array([5]), Q[:1], k)
        assert rows.tolist() == [1] and nbrs.tolist() == [5]


def test_cell_topk_blocks_give_the_same_answer(monkeypatch):
    rng = np.random.default_rng(1)
    Q = rng.integers(-50, 50, (9, 4)).astype(np.float64)
    ids = np.arange(9) * 2
    whole = cell_topk(ids, Q, ids, Q, 3)
    monkeypatch.setattr(vectors, "BLOCK", 2)
    for a, b in zip(whole, cell_topk(ids, Q, ids, Q, 3)):
        assert np.array_equal(a, b)
