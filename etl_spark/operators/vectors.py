"""Exact-vector kernels for the quantized-embedding stages.

The Python stages of ``plans/ml.py`` and ``plans/llm_similarity.py``
score quantized embeddings (integer lattice vectors, see
``llm_similarity.quantize``) with numpy. Each step they share exists
once, here:

* ``matrix`` — an Arrow ``array<bigint>`` column as a 2-D array;
* ``sq_dist`` — squared L2, ``|X|² + |Y|² − 2·X@Yᵀ``;
* ``cosine`` — ``X@Yᵀ / sqrt(|X|²·|Y|²)``;
* ``topk`` — the k best positions, ascending by score, ties to the
  lowest id;
* ``pq_encode`` — product-quantizer codes, ties to the lowest codeword;
* ``cell_topk`` — the blocked exact scan of one (cell, chunk) pair;
* ``stage`` — the one skeleton that runs a kernel as a Spark stage.

Exactness: float64 over lattice ints stays below 2^53, so every dot
product and squared distance is exact in any summation order, and
cosine uses only correctly rounded IEEE ops. The results are therefore
bit-identical to the DuckDB oracles wherever they are computed.

The fused shape is the default: a kernel scores one Arrow batch and
reduces it in the same pass (partial sums, batch-local top-k), so only
the reduced rows cross the Arrow boundary. Distributed top-k is a
local top-k per batch or per (cell, chunk) plus one global merge in
Spark; every local step applies the same total order as that merge.

The module is registered for by-value pickling below, so the workers
run exactly these functions and never import ``etl_spark``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.pandas.group_ops import PandasCogroupedOps

from etl_spark.operators.media import _PANDAS_DTYPES

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Query rows scored per matmul in ``cell_topk``: bounds a task's score
# matrix at BLOCK × chunk doubles.
BLOCK = 2048


def matrix(col: pd.Series, dtype=np.float64) -> np.ndarray:
    """An Arrow ``array<bigint>`` column (one ndarray per row) as an
    (n, dim) array. On one 16384 × 64 batch (min of 5 runs, 4-core
    host) this took 5.6 ms, ``np.vstack`` over the per-row arrays
    22.1 ms."""
    return np.array(col.tolist(), dtype)


def sq_dist(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """(len(X), len(Y)) squared L2 distances."""
    return (X * X).sum(axis=1)[:, None] + (Y * Y).sum(axis=1)[None, :] - 2 * (X @ Y.T)


def cosine(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """(len(X), len(Y)) cosine similarities (rows must have norm > 0)."""
    return (X @ Y.T) / np.sqrt(np.outer((X * X).sum(axis=1), (Y * Y).sum(axis=1)))


def topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` smallest ``scores``, ties to the lowest
    id (negate a similarity to rank it descending)."""
    return np.lexsort((ids, scores))[:k]


def pq_encode(X: np.ndarray, CB: np.ndarray) -> np.ndarray:
    """(n, m) product-quantizer codes of ``X`` (n, m, sub) against the
    codebook ``CB`` (codewords, m, sub): per subspace, the nearest
    codeword, ties to the lowest (numpy's first argmin)."""
    codes = np.empty(X.shape[:2], dtype=np.int64)
    for m in range(X.shape[1]):
        d = ((X[:, None, m, :] - CB[None, :, m, :]) ** 2).sum(axis=2)
        codes[:, m] = d.argmin(axis=1)
    return codes


def cell_topk(
    q_ids: np.ndarray, Q: np.ndarray, c_ids: np.ndarray, C: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact cosine top-``k`` of every query row over the candidates of
    one (cell, chunk) pair, in blocks of ``BLOCK`` queries. A query is
    never its own neighbour; ties go to the lowest candidate id. Returns
    ``(rows, neighbour_ids, cos)``: the query's row in ``Q``, best
    first per query. A query whose only candidate was itself yields no
    row. ``k == 1`` takes the first argmax, larger ``k`` a stable
    argsort; both see the candidates in ascending id order."""
    order = np.argsort(c_ids, kind="stable")
    c_ids, C = c_ids[order], C[order]
    kk = min(k, len(c_ids))
    rows, nbrs, best = [], [], []
    for lo in range(0, len(q_ids), BLOCK):
        cos = cosine(Q[lo : lo + BLOCK], C)
        cos[q_ids[lo : lo + BLOCK, None] == c_ids[None, :]] = -np.inf
        if k == 1:
            idx = np.argmax(cos, axis=1)[:, None]
        else:
            idx = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        score = np.take_along_axis(cos, idx, axis=1).ravel()
        keep = np.isfinite(score)
        rows.append(np.repeat(np.arange(lo, lo + len(idx)), idx.shape[1])[keep])
        nbrs.append(c_ids[idx.ravel()[keep]])
        best.append(score[keep])
    return np.concatenate(rows), np.concatenate(nbrs), np.concatenate(best)


def _empty(schema: str) -> pd.DataFrame:
    """A zero-row frame with the pandas dtypes of ``schema``."""
    fields = [field.split() for field in schema.split(",")]
    return pd.DataFrame(
        {name: pd.Series(dtype=_PANDAS_DTYPES.get(t, object)) for name, t in fields}
    )


def stage(
    rel,
    schema: str,
    kernel: Callable[..., Iterable[pd.DataFrame]],
    dtype=np.float64,
) -> DataFrame:
    """Run ``kernel`` as a Spark stage emitting ``schema`` rows.

    ``rel`` is a DataFrame (a narrow Arrow map, ``kernel(pdf, M)`` per
    batch), a grouped frame (``kernel(pdf, M)`` per group) or a
    cogrouped pair of queries and ``c_``-prefixed candidates
    (``kernel(qpdf, Q, cpdf, C)`` per key). ``M``, ``Q`` and ``C`` are
    the ``q`` / ``c_q`` vectors as ``matrix(..., dtype)``. Empty input
    is skipped; the frames the kernel yields are concatenated into one
    output frame, and a call that yields none returns a typed empty
    frame."""
    empty = _empty(schema)

    def run(*pdfs: pd.DataFrame) -> pd.DataFrame:
        if not all(len(pdf) for pdf in pdfs):
            return empty
        args = []
        for pdf, col in zip(pdfs, ("q", "c_q")):
            args += [pdf, matrix(pdf[col], dtype)]
        out = list(kernel(*args))
        return pd.concat(out, ignore_index=True) if out else empty

    if isinstance(rel, DataFrame):

        def udf(it):
            for pdf in it:
                out = run(pdf)
                if len(out):
                    yield out

        apply = rel.mapInPandas
    elif isinstance(rel, PandasCogroupedOps):

        def udf(qpdf, cpdf):
            return run(qpdf, cpdf)

        apply = rel.applyInPandas
    else:

        def udf(pdf):
            return run(pdf)

        apply = rel.applyInPandas
    udf.__name__ = kernel.__name__  # executed plans name the kernel
    return apply(udf, schema=schema)
