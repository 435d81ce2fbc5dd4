"""k-means: the iterative Lloyd loop against its oracle-paired first step.

ml_kmeans_step is hash-verified against DuckDB by test_oracle_parity;
these tests pin the properties of the iterative path that SQL cannot
express: the loop's first pass IS the verified step, and Lloyd descent
never increases inertia.
"""

from __future__ import annotations

import pytest

from etl_spark.plans.llm_similarity import _quantized
from etl_spark.plans.ml import (
    K_CLUSTERS,
    _assign,
    ml_kmeans_lloyd,
    ml_kmeans_step,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def lloyd_rows(spark):
    return ml_kmeans_lloyd(spark, SF_DIR).collect()


def test_lloyd_covers_all_vectors(spark, lloyd_rows):
    n_vecs = _quantized(spark, SF_DIR).count()
    assert sum(r["n_members"] for r in lloyd_rows) == n_vecs
    assert {r["cluster"] for r in lloyd_rows} <= set(range(K_CLUSTERS))


def test_lloyd_improves_on_seed_step(spark, lloyd_rows):
    # Lloyd descent: total inertia after convergence must be <= the
    # seed assignment's (equality only if seeds were already optimal).
    seed_inertia = sum(
        r["inertia"] for r in ml_kmeans_step(spark, SF_DIR).collect()
    )
    final_inertia = sum(r["inertia"] for r in lloyd_rows)
    assert final_inertia <= seed_inertia
    assert lloyd_rows[0]["n_iter"] >= 1


def test_lloyd_inertia_monotone_per_iteration(spark):
    # Replay the loop's centroid updates by hand and check each
    # assignment pass never increases total inertia.
    from pyspark.sql import functions as F

    emb = _quantized(spark, SF_DIR)
    seed_rows = sorted(
        emb.filter(F.col("vec_id") < K_CLUSTERS).collect(),
        key=lambda r: r["vec_id"],
    )
    centroids = [[float(x) for x in r["q"]] for r in seed_rows]
    prev = None
    for _ in range(3):
        assigned = _assign(emb, centroids)
        inertia = assigned.agg(F.sum("d2").alias("i")).collect()[0]["i"]
        if prev is not None:
            assert inertia <= prev * (1 + 1e-12)
        prev = inertia
        sums = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster = {}
        for row in sums:
            vec = by_cluster.setdefault(row["cluster"], [0.0] * len(centroids[0]))
            vec[row["pos"]] = row["sx"] / row["n"]
        centroids = [by_cluster.get(c, centroids[c]) for c in range(K_CLUSTERS)]


def test_step_stats_match_assignment(spark):
    # The step's stats are a plain count/sum over the assignment — cross-check
    # against a driver-side recompute on the collected assignment.
    from pyspark.sql import functions as F

    emb = _quantized(spark, SF_DIR)
    seed_rows = sorted(
        emb.filter(F.col("vec_id") < K_CLUSTERS).collect(),
        key=lambda r: r["vec_id"],
    )
    assigned = _assign(emb, [r["q"] for r in seed_rows]).collect()
    stats = {
        r["cluster"]: (r["n_members"], r["inertia"])
        for r in ml_kmeans_step(spark, SF_DIR).collect()
    }
    recomputed = {}
    for row in assigned:
        n, i = recomputed.get(row["cluster"], (0, 0))
        recomputed[row["cluster"]] = (n + 1, i + int(row["d2"]))
    assert stats == recomputed


# ---- trained coarse quantizer: IVF probe + semantic dedup ----------------


def _numpy_corpus(sf_dir):
    """Quantized corpus + exact cosine matrix, the pure-numpy reference
    the trained-quantizer queries are checked against (independent of
    both Spark and the DuckDB oracle)."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    df = con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).df()
    con.close()
    Q = np.round(np.array(df["embedding"].tolist(), dtype=np.float64) * 1000)
    ids = df["vec_id"].to_numpy()
    norms = (Q * Q).sum(axis=1)
    cos = (Q @ Q.T) / np.sqrt(np.outer(norms, norms))
    np.fill_diagonal(cos, -np.inf)
    return ids, Q, cos


def test_one_step_centroids_stay_on_lattice_and_descend(spark):
    from pyspark.sql import functions as F

    from etl_spark.plans.ml import _one_step_centroids

    emb = _quantized(spark, SF_DIR)
    cents = _one_step_centroids(emb)
    assert len(cents) == K_CLUSTERS
    # Lattice: every coordinate is an exact integer (what makes the
    # trained index oracle-hashable).
    assert all(x == int(x) for c in cents for x in c)
    # One Lloyd update never increases inertia vs the seed assignment.
    seeds = [
        [float(x) for x in r["q"]]
        for r in sorted(
            emb.filter(F.col("vec_id") < K_CLUSTERS).collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    seed_i = _assign(emb, seeds).agg(F.sum("d2")).collect()[0][0]
    trained_i = _assign(emb, cents).agg(F.sum("d2")).collect()[0][0]
    assert trained_i <= seed_i


def test_ivf_probe_recall_against_exact(spark):
    # The probe result must (a) be well-formed per query and (b) recall
    # most of the TRUE top-k — measured against an independent numpy
    # brute force. Deterministic data: observed mean recall is 0.86 at
    # sf0.001 with nprobe=2 of 8 cells.
    from etl_spark.plans.ml import sim_ivf_kmeans_probe
    from etl_spark.plans.llm_similarity import N_QUERIES, TOP_K

    import numpy as np

    rows = sim_ivf_kmeans_probe(spark, SF_DIR).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) == set(range(N_QUERIES))
    for qid, rs in got.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_K
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)

    ids, _, cos = _numpy_corpus(SF_DIR)
    recalls = []
    for qi in range(N_QUERIES):
        order = np.lexsort((ids, -cos[qi]))
        exact = set(ids[order[:TOP_K]])
        mine = {r["neighbor_id"] for r in got[ids[qi]]}
        recalls.append(len(mine & exact) / TOP_K)
    assert sum(recalls) / len(recalls) >= 0.6


def test_semantic_dedup_matches_numpy_and_block_invariant(
    spark, monkeypatch
):
    import numpy as np

    import etl_spark.plans.ml as ml

    base = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in ml.dedup_semantic_cluster(spark, SF_DIR).collect()
    }
    # Every pair really is above threshold per the independent numpy
    # cosine, and pairs are canonically ordered.
    from etl_spark.plans.llm_similarity import COSINE_DUP_THRESHOLD

    ids, _, cos = _numpy_corpus(SF_DIR)
    pos = {v: i for i, v in enumerate(ids)}
    for (a, b), sim in base.items():
        assert a < b
        assert sim >= COSINE_DUP_THRESHOLD
        assert cos[pos[a], pos[b]] == sim  # bit-identical scoring
    # Shrinking the matmul block must not change the result (the 100 TB
    # memory-bounding path and the one-block fast path agree exactly).
    monkeypatch.setattr(ml, "PAIR_BLOCK_ROWS", 7)
    small = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in ml.dedup_semantic_cluster(spark, SF_DIR).collect()
    }
    assert small == base


def test_embed_index_partitions_corpus_and_absorbs_dups(spark):
    from etl_spark.plans import REGISTRY

    rows = REGISTRY["pipeline_embed_index"].builder(spark, SF_DIR).collect()
    n_total = _quantized(spark, SF_DIR).count()
    # Every embedding is either a cell member or a duplicate absorbed
    # into one: the index accounts for the whole corpus.
    assert (
        sum(r["n_vectors"] for r in rows)
        + sum(r["n_dups_dropped"] for r in rows)
        == n_total
    )
    for r in rows:
        assert r["n_vectors"] >= 1
        assert 0 <= r["max_d2"]
        assert r["inertia"] <= r["n_vectors"] * r["max_d2"]


def test_quantized_partitions_scale_with_corpus(spark):
    """r10: the embedding kernels' partition count derives from the
    corpus size (ceil(rows / EMB_ROWS_PER_PARTITION), floor 1) instead
    of a flat defaultParallelism — at the test scales that is ONE
    partition, so a Lloyd iteration pays one task, not 32; at real
    scale the count grows linearly with the corpus."""
    import math

    from etl_spark.io import adaptive_partitions, load
    from etl_spark.plans.llm_similarity import EMB_ROWS_PER_PARTITION

    n = load(spark, SF_DIR, "embeddings").count()
    want = max(1, math.ceil(n / EMB_ROWS_PER_PARTITION))
    assert (
        adaptive_partitions(spark, SF_DIR, "embeddings", EMB_ROWS_PER_PARTITION)
        == want
    )
    assert _quantized(spark, SF_DIR).rdd.getNumPartitions() == want
    # The heuristic never collapses a real corpus onto one task:
    # exercise adaptive_partitions itself with a seeded large row
    # count (the memo keyed on (app, dir, table) makes this hermetic).
    from etl_spark import io as eio

    key = (spark.sparkContext.applicationId, "/nonexistent/sf-big", "embeddings")
    eio._ROW_COUNTS[key] = EMB_ROWS_PER_PARTITION * 50
    try:
        assert (
            adaptive_partitions(
                spark, "/nonexistent/sf-big", "embeddings", EMB_ROWS_PER_PARTITION
            )
            == 50
        )
    finally:
        eio._ROW_COUNTS.pop(key, None)
