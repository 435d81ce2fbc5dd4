"""Distributed ML building blocks over the embeddings table.

k-means is the workhorse of training-data curation at scale (corpus
clustering for mixture balancing, semantic dedup via cluster-then-
compare, IVF coarse quantizer training). The reference engine has no
ML surface (its 190-line core is ETL only); SURVEY.md §2.3 plans the
embedding column as a first-class citizen, and these queries give it
the iterative-algorithm coverage the similarity family (llm_similarity)
probes but never trains.

Spark shape — both queries follow the same scale discipline:

* the per-point assignment step is ONE corpus scan: the k centroids are
  a config-sized constant (k × dim floats) shipped inside the kernel
  closure, and each Arrow batch is scored against all centroids with a
  single numpy matmul (no per-pair interpreted lambdas, no join). The
  kernels' math (squared distance, cosine, top-k, PQ codes, the chunked
  cell scan) and the one stage skeleton that runs them live in
  ``operators/vectors.py``;
* the centroid-update step is a posexplode → groupBy(cluster, pos)
  partial-aggregated sum — output is k × dim rows regardless of corpus
  size, so the shuffle is dimension-bounded, not data-bounded;
* nothing data-sized is ever collected: the driver only sees k × dim
  centroid sums per iteration (the same contract as connected
  components' convergence counters in operators/graph.py).

Exactness (ml_kmeans_step is oracle-paired — rare for ML): quantized
integer coordinates (see llm_similarity.quantize) make every squared
L2 distance an exact BIGINT via ||a||² + ||b||² − 2·a·b, and float64
matmul of integer matrices below 2^53 is exact in any summation order,
so Spark and DuckDB agree bit-for-bit on every distance and tie-break.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.plans.llm_similarity import (
    COSINE_DUP_THRESHOLD,
    DIM,
    N_QUERIES,
    PQ_KS,
    PQ_M,
    PQ_QUERY_HI,
    PQ_QUERY_LO,
    PQ_RERANK,
    PQ_SUBDIM,
    PQ_TOPK,
    TOP_K,
    _pq_d2_sql,
    _quantized,
    _vec_cte,
    cell_chunks,
    cosine,
    dot,
    pick_vectors,
    vec_hash,
)
from etl_spark.operators.caching import session_cached, session_memo
from etl_spark.operators.ranking import first_per_key
from etl_spark.operators.vectors import (
    cell_topk,
    cosine as cosine_matrix,
    pq_encode,
    sq_dist,
    stage,
    topk,
)
from etl_spark.plans.registry import register

K_CLUSTERS = 8
MAX_ITERS = 8

def _assign(
    emb: DataFrame,
    centroids: list[list[float]],
    passthrough: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """One assignment pass: nearest centroid per vector, one matmul per
    Arrow batch. Ties break to the lowest cluster id (numpy argmin
    returns the first minimum — same order as the oracle's
    ``ORDER BY d2, cluster``).

    ``passthrough``: extra ``(column, spark_type)`` pairs copied from
    the input batch into the output unchanged (r10 opt, guide §2.4
    "remove shuffles outright"): carrying a skinny column THROUGH the
    Arrow kernel costs bytes-per-row in the same pass, while joining
    it back on vec_id afterwards costs a corpus-sized shuffle of both
    sides — pipeline_embed_index dropped that join this way."""
    S = np.array(centroids, dtype=np.float64)  # (k, dim)
    extra = [name for name, _typ in passthrough]

    def score(pdf, C):
        d2 = sq_dist(C, S)
        cl = d2.argmin(axis=1)
        out = {
            "vec_id": pdf["vec_id"].values,
            "q": pdf["q"],
            "cluster": cl.astype("int32"),
            "d2": d2[np.arange(len(cl)), cl],
        }
        for name in extra:
            out[name] = pdf[name]
        yield pd.DataFrame(out)

    schema = "vec_id bigint, q array<bigint>, cluster int, d2 double" + "".join(
        f", {name} {typ}" for name, typ in passthrough
    )
    return stage(emb, schema, score)


def _assign_partial_sums(
    emb: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """One fused assignment + partial-reduction pass: per Arrow batch,
    assign each vector to its nearest centroid (same matmul and
    first-argmin tiebreak as ``_assign``) and reduce the batch to at
    most k rows of exact-int64 partials (member count, Σd2, per-dim
    Σq). Only batches × k skinny rows leave Python — the corpus-sized
    (vec_id, q, cluster, d2) stream of the unfused shape never crosses
    the Arrow boundary and never shuffles."""
    S = np.array(centroids, dtype=np.float64)  # (k, dim)

    def score(pdf, C):
        d2 = sq_dist(C, S)
        cl = d2.argmin(axis=1)
        best = d2[np.arange(len(cl)), cl]
        Ci = C.astype(np.int64)  # exact: quantized lattice ints
        rows = []
        for c in np.unique(cl):
            m = cl == c
            rows.append(
                {
                    "cluster": int(c),
                    "n": int(m.sum()),
                    # d2 is exact-integer-valued float64 (< 2^53);
                    # int64 partials keep the corpus total exact.
                    "sd2": int(best[m].astype(np.int64).sum()),
                    "sx": Ci[m].sum(axis=0),
                }
            )
        yield pd.DataFrame(rows)

    return stage(
        emb, "cluster int, n bigint, sd2 bigint, sx array<bigint>", score
    )


@register(
    "ml_kmeans_step",
    oracle=f"""
    WITH vec AS ({_vec_cte()}),
    seeds AS (
      SELECT vec_id AS cluster, q AS sq, norm AS snorm
      FROM vec WHERE vec_id < {K_CLUSTERS}
    ),
    dist AS (
      SELECT v.vec_id, s.cluster,
             v.norm + s.snorm
               - 2 * CAST(list_dot_product(v.q, s.sq) AS BIGINT) AS d2
      FROM vec v CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, cluster, d2, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d2, cluster) AS rn
      FROM dist
    )
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM best WHERE rn = 1
    GROUP BY cluster
    ORDER BY cluster
    """,
    doc=f"One exact Lloyd iteration of k-means (k={K_CLUSTERS}, seeds = "
        f"the first {K_CLUSTERS} vectors): assign every embedding to "
        "its nearest seed by squared L2 over quantized integer "
        "coordinates, then report per-cluster size and inertia. The "
        "centroids ride inside the mapInPandas closure (k×dim floats), "
        "so assignment is one corpus scan with a numpy matmul per "
        "Arrow batch — no join, no per-pair lambdas; the only shuffle "
        "is the k-row stats aggregate. Distances are exact BIGINTs "
        "(quantization proof at llm_similarity.quantize), so this "
        "inherently-numeric step is fully oracle-hashable.",
    tags=("ml", "kmeans", "llm", "pandas-udf"),
)
def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized(spark, sf_dir)
    seeds = _first_k_seeds(emb)
    # Seeds are lattice points, so every d2 is integer-valued and the
    # per-batch int64 partials re-aggregate to the oracle's BIGINTs.
    return (
        _assign_partial_sums(emb, seeds)
        .groupBy("cluster")
        .agg(F.sum("n").alias("n_members"), F.sum("sd2").alias("inertia"))
        .orderBy("cluster")
    )


def _lloyd_oracle_sql() -> str:
    """Unrolled Lloyd oracle: MAX_ITERS is a compile-time constant, so
    the 'iterative fixpoint' objection to SQL dissolves — generate one
    CTE trio (distances, argmin assignment, lattice centroid update)
    per iteration, compute every iteration's inertia, and read the
    stats off the first non-improving iteration. Exactness carries
    because centroids stay on the integer quantization lattice (same
    half-away integer rounding formula as the Spark loop)."""
    parts = [f"WITH vec AS MATERIALIZED ({_vec_cte()}),"]
    parts.append(
        f"c0 AS MATERIALIZED (SELECT vec_id AS cluster, q AS cq FROM vec "
        f"WHERE vec_id < {K_CLUSTERS}),"
    )
    for i in range(1, MAX_ITERS + 1):
        p = i - 1
        parts.append(f"""
    d{i} AS MATERIALIZED (
      SELECT v.vec_id, c.cluster,
             v.norm + CAST(list_dot_product(c.cq, c.cq) AS BIGINT)
                    - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM vec v CROSS JOIN c{p} c
    ),
    a{i} AS MATERIALIZED (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d{i}) WHERE rn = 1
    ),
    u{i} AS (
      SELECT a.cluster, p.pos, SUM(v.q[p.pos]) AS sx, COUNT(*) AS n
      FROM a{i} a JOIN vec v USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
      GROUP BY a.cluster, p.pos
    ),
    r{i} AS (
      SELECT cluster,
             list(CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                       ELSE -(((-2 * sx) + n) // (2 * n)) END
                  ORDER BY pos) AS cq
      FROM u{i} GROUP BY cluster
    ),
    c{i} AS MATERIALIZED (
      SELECT prev.cluster, COALESCE(r.cq, prev.cq) AS cq
      FROM c{p} prev LEFT JOIN r{i} r USING (cluster)
    ),""")
    inertia_rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS it, (SELECT SUM(d2) FROM a{i}) AS v"
        for i in range(1, MAX_ITERS + 1)
    )
    tagged = "\n      UNION ALL ".join(
        f"SELECT {i} AS it, vec_id, cluster, d2 FROM a{i}"
        for i in range(1, MAX_ITERS + 1)
    )
    parts.append(f"""
    inertias AS (
      {inertia_rows}
    ),
    stop AS (
      SELECT COALESCE((SELECT MIN(cur.it) FROM inertias cur
                       JOIN inertias prev ON prev.it = cur.it - 1
                       WHERE cur.v >= prev.v), {MAX_ITERS}) AS n_iter
    ),
    tagged AS (
      {tagged}
    )
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia,
           CAST((SELECT n_iter FROM stop) AS INTEGER) AS n_iter
    FROM tagged WHERE it = (SELECT n_iter FROM stop)
    GROUP BY cluster
    ORDER BY cluster""")
    return "\n".join(parts)


@register(
    "ml_kmeans_lloyd",
    oracle=_lloyd_oracle_sql(),
    doc=f"Full Lloyd's algorithm to convergence (≤{MAX_ITERS} iters, "
        f"k={K_CLUSTERS}): alternate the one-scan assignment step with "
        "a dimension-bounded centroid update (posexplode → "
        "groupBy(cluster, pos) sum → k×dim rows to the driver — the "
        "config-sized convergence channel, same contract as "
        "operators/graph.py's counters). Stops when inertia stops "
        "improving. Centroids are rounded onto the integer quantization "
        "lattice each update (exact half-away integer formula), so "
        "every distance, tie-break and inertia stays an exact BIGINT "
        "through ALL iterations — making even the full iterative loop "
        "hash-checkable against an unrolled DuckDB oracle "
        "(MAX_ITERS is a constant, so the fixpoint unrolls to "
        f"{MAX_ITERS} generated CTE iterations + a first-non-improving "
        "selector). tests/test_ml.py keeps the descent properties.",
    tags=("ml", "kmeans", "llm", "iterative", "pandas-udf"),
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every iteration rescans the session-cached quantized input.
    emb = _quantized(spark, sf_dir)
    centroids = _first_k_seeds(emb)
    prev_inertia = None
    n_iter = 0
    sums = []
    for _ in range(MAX_ITERS):
        n_iter += 1
        sums = _lloyd_sums(emb, centroids)
        inertia = sum(row["sd2"] for row in sums if row["pos"] == 0)
        if prev_inertia is not None and inertia >= prev_inertia:
            break
        prev_inertia = inertia
        centroids = _lattice_update(sums, centroids)
    # The stats of the stopping iteration's assignment are already
    # in hand: the loop's final `sums` collect IS the per-cluster
    # (n_members, inertia) table (any pos row carries n; pos==0
    # carries the cluster's Σd2) — the same numbers the oracle
    # reads off a{{n_iter}}. The convergence channel stays
    # config-sized (k × dim rows per iteration), nothing data-sized
    # reaches the driver.
    stats = sorted(
        (
            (int(r["cluster"]), int(r["n"]), int(r["sd2"]), n_iter)
            for r in sums
            if r["pos"] == 0
        )
    )
    return spark.createDataFrame(
        stats, schema="cluster int, n_members bigint, inertia bigint, n_iter int"
    )


@register(
    "ml_cluster_separation",
    oracle=f"""
    WITH vec AS (
      SELECT vec_id, label, q,
             CAST(list_dot_product(q, q) AS BIGINT) AS xx
      FROM (SELECT vec_id, label,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings)
    ),
    dims AS (
      SELECT label, i, q[i] AS v
      FROM vec CROSS JOIN UNNEST(range(1, 65)) AS t(i)
    ),
    cent AS (
      SELECT label, list(s ORDER BY i) AS sv, CAST(MIN(n) AS BIGINT) AS n
      FROM (
        SELECT d.label, d.i, CAST(SUM(d.v) AS BIGINT) AS s,
               (SELECT COUNT(*) FROM vec v2 WHERE v2.label = d.label) AS n
        FROM dims d GROUP BY d.label, d.i
      ) GROUP BY label
    ),
    scored AS (
      SELECT v.vec_id, v.label, c.label AS c_label,
             CAST(v.xx AS DOUBLE)
               - (2.0 * CAST(list_dot_product(v.q, c.sv) AS DOUBLE)) / c.n
               + CAST(list_dot_product(c.sv, c.sv) AS DOUBLE) / c.n / c.n
               AS d2
      FROM vec v CROSS JOIN cent c
    ),
    own AS (
      SELECT vec_id, label, d2 AS own_d2 FROM scored WHERE label = c_label
    ),
    best_other AS (
      SELECT vec_id, c_label AS nearest_other, d2 AS other_d2
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rn
        FROM scored WHERE label <> c_label
      ) WHERE rn = 1
    )
    SELECT o.vec_id, o.label, o.own_d2,
           CAST(b.nearest_other AS INTEGER) AS nearest_other,
           b.other_d2,
           CAST(CASE WHEN o.own_d2 < b.other_d2 THEN 1 ELSE 0 END AS INTEGER)
             AS well_separated
    FROM own o JOIN best_other b ON b.vec_id = o.vec_id
    ORDER BY o.vec_id
    """,
    doc="Cluster-separation audit (simplified silhouette): each "
        "vector's squared distance to its OWN label centroid vs the "
        "nearest OTHER centroid. The centroid never materializes as "
        "floats — d2(x, S/n) expands to xx - 2(x.S)/n + (S.S)/n^2 "
        "with exact-integer xx, x.S, S.S, so both engines derive "
        "identical doubles. Cost is the standard n x k assignment "
        "join (k = #labels, broadcast); one window picks the nearest "
        "rival. The go/no-go check after any clustering or labeling "
        "pass, at any corpus size.",
    tags=("ml", "similarity", "statistics"),
)
def ml_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _quantized(spark, sf_dir)
    sums = vec.select("label", F.posexplode("q").alias("pos", "v")).groupBy(
        "label", "pos"
    ).agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt"))
    cent = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x.s
        ).alias("sv"),
        F.min("cnt").alias("n"),
    ).select(
        F.col("label").alias("c_label"), "sv", "n"
    )
    scored = vec.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        (
            F.col("norm").cast("double")
            - (F.lit(2.0) * dot(F.col("q"), F.col("sv")).cast("double"))
            / F.col("n")
            + dot(F.col("sv"), F.col("sv")).cast("double")
            / F.col("n")
            / F.col("n")
        ).alias("d2"),
    )
    own = scored.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("d2").alias("own_d2")
    )
    best_other = (
        first_per_key(
            scored.filter(F.col("label") != F.col("c_label")),
            ["vec_id"],
            F.asc("d2"),
            F.asc("c_label"),
        )
        .select(
            "vec_id",
            F.col("c_label").cast("int").alias("nearest_other"),
            F.col("d2").alias("other_d2"),
        )
    )
    return (
        own.join(best_other, "vec_id")
        .select(
            "vec_id",
            "label",
            "own_d2",
            "nearest_other",
            "other_d2",
            F.when(F.col("own_d2") < F.col("other_d2"), 1)
            .otherwise(0)
            .cast("int")
            .alias("well_separated"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Trained coarse quantizer: centroids after exactly ONE Lloyd update from
# the first-K seeds. Both IVF search and semantic dedup below share it —
# it is the cheapest quantizer that is genuinely *learned* from the data
# (the round-3 IVF query used the label column as a stand-in), while
# staying exact on the integer lattice and therefore oracle-hashable.
# ---------------------------------------------------------------------------

N_PROBE = 2
# Rows scored per matmul block in dedup_semantic_cluster: bounds peak
# task memory at PAIR_BLOCK_ROWS × |cell| doubles. Tests shrink it to
# prove the result is block-size-invariant.
PAIR_BLOCK_ROWS = 1024

def trained_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The session's first-K one-Lloyd-step coarse quantizer (memoized
    per (session, sf_dir); always recomputed from parquet in a fresh
    process). Three registered queries train this IDENTICAL quantizer
    (first-K seeds over _quantized, deterministic collect order), so
    the memo spares each of them the seed collect + assignment scan +
    k×dim update (≈2 corpus passes apiece)."""

    cents = session_memo(
        "ivf_centroids", spark, sf_dir,
        lambda: _one_step_centroids(_quantized(spark, sf_dir)),
    )
    return [list(c) for c in cents]


def cached_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (vec_id, q, norm, cluster) under the session-trained
    coarse quantizer (r10 opt, guide §1.2 "don't compute things you
    throw away"): the IVF probe, the IVF-PQ search/rerank pair and the
    semantic dedup all consume this identical assignment, and each
    used to re-run the training passes plus its own Arrow assignment
    scan. One materialization serves them all; a bench clearCache()
    unpersists it and the next consumer rebuilds from parquet."""

    def build() -> DataFrame:
        return _assign(
            _quantized(spark, sf_dir),
            trained_centroids(spark, sf_dir),
            passthrough=(("norm", "bigint"),),
        ).select("vec_id", "q", "norm", "cluster")

    return session_cached("ivf_assigned", spark, sf_dir, build)


def _first_k_seeds(emb: DataFrame) -> list[list[float]]:
    """The first K vectors by vec_id, the k-means seeds."""
    return [[float(x) for x in r["q"]] for r in pick_vectors(emb, K_CLUSTERS)]


def _lloyd_sums(emb: DataFrame, centroids: list[list[float]]) -> list:
    """One Lloyd assignment as ONE action: the collected
    ``(cluster, pos, sx, n, sd2)`` rows — per cluster and dimension,
    the coordinate sum, member count and Σd2.

    The reduction runs INSIDE the assignment kernel (r10 opt, guide
    §2.3 "aggregate before you shuffle"): each Arrow batch assigns
    points and immediately reduces them to k rows of exact int64
    partials, so the posexplode + exchange carries batches × k × dim
    rows instead of corpus × dim (640k → ~16k at sf0.1; the gap only
    widens with scale). Integer sums are associative, so the partials
    re-aggregate to bit-identical totals (the BIGINTs the unrolled
    oracle computes); ties break to the first argmin, as in ``_assign``
    and the oracle's ``ORDER BY d2, cluster``. Output is k × dim rows
    regardless of corpus size — the config-sized convergence channel.
    """
    return (
        _assign_partial_sums(emb, centroids)
        .select("cluster", "n", "sd2", F.posexplode("sx").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(
            F.sum("x").alias("sx"),
            F.sum("n").alias("n"),
            F.sum("sd2").alias("sd2"),
        )
        .collect()
    )


def _lattice_update(
    sums: list, centroids: list[list[float]]
) -> list[list[float]]:
    """Centroid update from ``_lloyd_sums`` rows: each cluster's mean
    rounded HALF-AWAY onto the integer quantization lattice in exact
    integer arithmetic ((2|sx|+n)//(2n), sign restored). Keeping
    centroids on the lattice keeps every distance, tie-break and
    inertia an exact BIGINT through ALL iterations — which is what
    lets the iterative loop be hash-checked against the unrolled
    DuckDB oracle (same formula there). Empty clusters keep their
    previous centroid, mirroring the oracle's COALESCE."""
    cents = [list(c) for c in centroids]
    for row in sums:
        sx, cnt = int(row["sx"]), int(row["n"])
        val = (
            (2 * sx + cnt) // (2 * cnt)
            if sx >= 0
            else -((-2 * sx + cnt) // (2 * cnt))
        )
        cents[row["cluster"]][row["pos"]] = float(val)
    return cents


def _one_step_centroids(
    emb: DataFrame, seeds: list[list[float]] | None = None
) -> list[list[float]]:
    """Seed with the first K vectors (or the given seeds), run one
    exact Lloyd update: two bounded actions, the K seed vectors
    (config-sized collect) and the k × dim centroid sums."""
    if seeds is None:
        seeds = _first_k_seeds(emb)
    return _lattice_update(_lloyd_sums(emb, seeds), seeds)


def _trained_ctes(pre_ctes: str = "", src: str = "vec",
                  c0_sql: str | None = None) -> str:
    """Oracle CTE block ending in ``cent`` (the one-step-trained
    centroids) and ``assigned`` (every vector's trained cell), plus
    ``d2s`` (each vector's exact distance to every trained centroid).
    Same lattice-rounding / empty-cluster-COALESCE formulas as
    ``_lloyd_oracle_sql`` — one generated iteration instead of
    MAX_ITERS. ``pre_ctes`` inserts extra CTEs after ``vec`` (e.g. a
    dedup pass), ``src`` picks the relation the quantizer trains and
    assigns over, ``c0_sql`` overrides the seed selection."""
    c0 = c0_sql or (
        f"SELECT vec_id AS cluster, q AS cq FROM {src} "
        f"WHERE vec_id < {K_CLUSTERS}"
    )
    return f"""
    WITH vec AS MATERIALIZED ({_vec_cte()}),{pre_ctes}
    c0 AS ({c0}),
    d1 AS (
      SELECT v.vec_id, c.cluster,
             v.norm + CAST(list_dot_product(c.cq, c.cq) AS BIGINT)
                    - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM {src} v CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d1) WHERE rn = 1
    ),
    u1 AS (
      SELECT a.cluster, p.pos, SUM(v.q[p.pos]) AS sx, COUNT(*) AS n
      FROM a1 a JOIN {src} v USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
      GROUP BY a.cluster, p.pos
    ),
    r1 AS (
      SELECT cluster,
             list(CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                       ELSE -(((-2 * sx) + n) // (2 * n)) END
                  ORDER BY pos) AS cq
      FROM u1 GROUP BY cluster
    ),
    cent AS MATERIALIZED (
      SELECT prev.cluster, COALESCE(r.cq, prev.cq) AS cq,
             CAST(list_dot_product(COALESCE(r.cq, prev.cq),
                                   COALESCE(r.cq, prev.cq)) AS BIGINT)
               AS cnorm
      FROM c0 prev LEFT JOIN r1 r USING (cluster)
    ),
    d2s AS MATERIALIZED (
      SELECT v.vec_id, c.cluster,
             v.norm + c.cnorm
                    - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM {src} v CROSS JOIN cent c
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d2s) WHERE rn = 1
    )"""


@register(
    "sim_ivf_kmeans_probe",
    oracle=f"""{_trained_ctes()},
    probes AS (
      SELECT vec_id AS query_id, cluster AS cell FROM (
        SELECT d.vec_id, d.cluster, ROW_NUMBER() OVER (
          PARTITION BY d.vec_id ORDER BY d.d2, d.cluster) AS rn
        FROM d2s d WHERE d.vec_id < {N_QUERIES}) WHERE rn <= {N_PROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(list_dot_product(q.q, n.q) AS DOUBLE)
               / sqrt(CAST(q.norm AS DOUBLE) * CAST(n.norm AS DOUBLE))
               AS cos_sim
      FROM probes p
      JOIN assigned a ON a.cluster = p.cell
      JOIN vec q ON q.vec_id = p.query_id
      JOIN vec n ON n.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id AND q.norm > 0 AND n.norm > 0
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cand)
    WHERE rnk <= {TOP_K}
    """,
    doc=f"IVF index probe with a LEARNED coarse quantizer (k-means, "
        f"one exact Lloyd update from the first-{K_CLUSTERS} seeds): "
        f"each of the {N_QUERIES} query vectors probes its "
        f"{N_PROBE} nearest cells and scores exact cosine only against "
        f"the vectors ASSIGNED to those cells, keeping the true top-"
        f"{TOP_K}. Upgrades sim_nn_within_label's label-as-cell "
        "stand-in to a real trained quantizer. Spark shape: training "
        "is one assignment scan + a k×dim-bounded update (driver sees "
        "only centroid sums); search is one assignment scan, a "
        "config-sized (queries × nprobe) broadcast probe list, an "
        "equi-join on the cell key — candidates co-locate, no "
        "cross-cell explosion — and a per-query top-k window whose "
        "partition size is the IVF cell size, a design constant "
        "(cells stay bounded because k scales with the corpus). "
        "Integer-lattice centroids keep every distance and tie-break "
        "exact, so even the trained index is hash-checkable.",
    tags=("ml", "kmeans", "similarity", "ann", "ivf", "llm",
          "pandas-udf"),
)
def sim_ivf_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Trained quantizer + corpus assignment from the session cache
    # (r10 opt): the probe, the PQ search/rerank pair and semantic
    # dedup all consume the identical training + assignment passes.
    cents = trained_centroids(spark, sf_dir)
    assigned = cached_assignment(spark, sf_dir)
    # Probe selection is driver-side exact-integer arithmetic on a
    # config-sized problem: N_QUERIES vectors × k centroids. The
    # query vectors read off the cached assignment (q rides it), not
    # a second parquet scan.
    icents = [[int(x) for x in c] for c in cents]
    cnorms = [sum(x * x for x in c) for c in icents]
    qrows = pick_vectors(assigned, N_QUERIES)
    probe_rows = []
    for r in qrows:
        qv = [int(x) for x in r["q"]]
        qnorm = sum(x * x for x in qv)
        if qnorm == 0:
            continue  # zero-norm queries can't be cosine-scored
        dists = sorted(
            (
                qnorm + cnorms[ci]
                - 2 * sum(a * b for a, b in zip(qv, icents[ci])),
                ci,
            )
            for ci in range(len(icents))
        )
        for _, cell in dists[:N_PROBE]:
            probe_rows.append((int(r["vec_id"]), cell, qv, qnorm))
    probes = spark.createDataFrame(
        probe_rows,
        schema="query_id bigint, cell int, q_q array<bigint>, "
               "q_norm bigint",
    )
    cand = (
        assigned.filter(F.col("norm") > 0)
        .join(F.broadcast(probes), F.col("cluster") == F.col("cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(
                dot(F.col("q_q"), F.col("q")),
                F.col("q_norm"),
                F.col("norm"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
    )


# --------------------------------------------------------------------------
# Large x large k-NN join: top-k neighbors for EVERY left-corpus vector
# from a second large corpus, via co-partitioned IVF cells.
# --------------------------------------------------------------------------

# Cell count for the kNN join's coarse quantizer: k = floor(sqrt(n)).
# This is the knob that makes a large x large join subquadratic —
# cells of ~sqrt(n) vectors give total candidate volume
# |A| * nprobe * sqrt(n_B) = O(n^1.5) instead of the brute-force n^2.
# Floored at 4 so tiny fixtures still exercise multi-cell plans.
KNN_MIN_CELLS = 4


def _knn_cells(n: int) -> int:
    import math

    # isqrt == floor(sqrt) exactly; the SQL twin's floor(sqrt(n)) is
    # float-rounded but exact for n < ~2^52 (and bit-safe below 2^26,
    # far above any corpus this runs on per-partition).
    return max(KNN_MIN_CELLS, math.isqrt(n))


def _assign_topn(emb: DataFrame, centroids: list[list[float]], n_probe: int) -> DataFrame:
    """Multi-probe assignment: each vector's ``n_probe`` nearest
    centroids (ties to the lowest cluster id — stable argsort over the
    ascending cluster axis, same order as the oracle's
    ``ORDER BY d2, cluster``). Same exact-integer d2 arithmetic as
    ``_assign``; one matmul per Arrow batch."""
    S = np.array(centroids, dtype=np.float64)
    npb = min(n_probe, len(centroids))

    def score(pdf, C):
        order = np.argsort(sq_dist(C, S), axis=1, kind="stable")[:, :npb]
        for r in range(npb):
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "q": pdf["q"],
                    "cluster": order[:, r].astype("int32"),
                }
            )

    return stage(emb, "vec_id bigint, q array<bigint>, cluster int", score)


_KNN_JOIN_ORACLE = f"""
    WITH vec AS MATERIALIZED ({{vec_cte}}),
    rvec AS MATERIALIZED (
      SELECT vec_id, q, norm FROM vec WHERE vec_id % 2 = 1 AND norm > 0),
    lvec AS MATERIALIZED (
      SELECT vec_id, q, norm FROM vec WHERE vec_id % 2 = 0 AND norm > 0),
    kv AS (SELECT GREATEST({KNN_MIN_CELLS},
             CAST(floor(sqrt(COUNT(*))) AS INTEGER)) AS k FROM rvec),
    c0 AS MATERIALIZED (
      SELECT CAST(rn - 1 AS INTEGER) AS cluster, q AS cq FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, q FROM rvec)
      WHERE rn <= (SELECT k FROM kv)),
    d1 AS (
      SELECT v.vec_id, c.cluster,
             v.norm + CAST(list_dot_product(c.cq, c.cq) AS BIGINT)
                    - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM rvec v CROSS JOIN c0 c),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM d1) WHERE rn = 1),
    u1 AS (
      SELECT a.cluster, p.pos, SUM(v.q[p.pos]) AS sx, COUNT(*) AS n
      FROM a1 a JOIN rvec v USING (vec_id)
      CROSS JOIN (SELECT unnest(generate_series(1, {{dim}})) AS pos) p
      GROUP BY a.cluster, p.pos),
    r1 AS (
      SELECT cluster,
             list(CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                       ELSE -(((-2 * sx) + n) // (2 * n)) END
                  ORDER BY pos) AS cq
      FROM u1 GROUP BY cluster),
    cent AS MATERIALIZED (
      SELECT prev.cluster, COALESCE(r.cq, prev.cq) AS cq,
             CAST(list_dot_product(COALESCE(r.cq, prev.cq),
                                   COALESCE(r.cq, prev.cq)) AS BIGINT) AS cnorm
      FROM c0 prev LEFT JOIN r1 r USING (cluster)),
    db AS (
      SELECT v.vec_id, c.cluster,
             v.norm + c.cnorm - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM rvec v CROSS JOIN cent c),
    bassign AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM db) WHERE rn = 1),
    da AS (
      SELECT v.vec_id, c.cluster,
             v.norm + c.cnorm - 2 * CAST(list_dot_product(v.q, c.cq) AS BIGINT) AS d2
      FROM lvec v CROSS JOIN cent c),
    aprobe AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2, cluster) AS rn
        FROM da) WHERE rn <= {{n_probe}}),
    cand AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_dot_product(q.q, n.q) AS DOUBLE)
               / sqrt(CAST(q.norm AS DOUBLE) * CAST(n.norm AS DOUBLE)) AS cos_sim
      FROM aprobe a JOIN bassign b USING (cluster)
      JOIN lvec q ON q.vec_id = a.vec_id
      JOIN rvec n ON n.vec_id = b.vec_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cand)
    WHERE rnk <= {{top_k}}
    """


@register(
    "sim_knn_join",
    oracle=_KNN_JOIN_ORACLE.format(
        vec_cte=_vec_cte(), dim=DIM, n_probe=N_PROBE, top_k=TOP_K
    ),
    doc=f"Large x large k-NN join: exact top-{TOP_K} cosine neighbors "
        "for EVERY vector of corpus A (even vec_ids) from corpus B "
        "(odd vec_ids) within the probed IVF cells — the canonical "
        "embedding-enrichment shape (nearest references for every "
        "training example) that sim_topk_cosine's config-sized query "
        "broadcast cannot express. Both sides are assigned to a "
        "LEARNED quantizer's cells (k = floor(sqrt(|B|)) centroids, "
        "one exact Lloyd step from B's first-k seeds; k grows with "
        "the corpus so cells stay ~sqrt-sized), the left side probes "
        f"its {N_PROBE} nearest cells, and candidates meet in an "
        "equi-join on the cell key — co-partitioned, no cross-cell "
        "explosion, total candidate volume O(|A| * nprobe * sqrt(|B|))"
        " = n^1.5 vs the brute-force n^2. Scoring is a chunked Arrow "
        "matmul per (cell, chunk) emitting LOCAL top-k, then one "
        "associative global top-k window (bit-exact merge: float64 "
        "cos values are identical across chunks and the tiebreak is "
        "total). The oracle replays the identical quantizer training, "
        "assignment, probe set and scoring in exact integer "
        "arithmetic.",
    tags=("similarity", "llm", "ann", "ivf", "knn-join", "pandas-udf"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = _quantized(spark, sf_dir).filter(F.col("norm") > 0).select("vec_id", "q")
    right = emb.filter(F.col("vec_id") % 2 == 1)
    left = emb.filter(F.col("vec_id") % 2 == 0)
    # sqrt-bounded driver state: k seed vectors and k x dim sums
    # (inside _one_step_centroids) — grows as sqrt(corpus), i.e.
    # ~30k rows at a billion vectors, never data-sized.
    k = _knn_cells(right.count())
    seeds = [
        [float(x) for x in r["q"]] for r in pick_vectors(right, first=k)
    ]
    cents = _one_step_centroids(right, seeds=seeds)

    b_assigned = _assign(right, cents).select("vec_id", "q", "cluster")
    a_probes = _assign_topn(left, cents, N_PROBE)

    def topk_per_chunk(qpdf, Q, cpdf, C):
        q_ids = qpdf["vec_id"].to_numpy()
        rows, nbrs, cos = cell_topk(
            q_ids, Q, cpdf["c_vec_id"].to_numpy(), C, TOP_K
        )
        yield pd.DataFrame(
            {"query_id": q_ids[rows], "neighbor_id": nbrs, "cos_sim": cos}
        )

    # Per-cell chunks bound task memory exactly as in
    # sim_nn_within_label; the k-row cell-count table is
    # sqrt-bounded, a legitimate broadcast.
    local = stage(
        cell_chunks(b_assigned, a_probes, "cluster"),
        "query_id bigint, neighbor_id bigint, cos_sim double",
        topk_per_chunk,
    )
    # Associative top-k merge: every chunk's local top-k is a
    # superset of the global top-k members from that chunk under
    # the SAME total order, so the global window is exact.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
    )


@register(
    "dedup_semantic_cluster",
    oracle=f"""{_trained_ctes()}
    SELECT CAST(s.cluster AS INTEGER) AS cluster,
           s.vec_a, s.vec_b, s.cos_sim
    FROM (
      SELECT a.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
             CAST(list_dot_product(x.q, y.q) AS DOUBLE)
               / sqrt(CAST(x.norm AS DOUBLE) * CAST(y.norm AS DOUBLE))
               AS cos_sim
      FROM assigned a
      JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN vec x ON x.vec_id = a.vec_id
      JOIN vec y ON y.vec_id = b.vec_id
      WHERE x.norm > 0 AND y.norm > 0
    ) s
    WHERE s.cos_sim >= {COSINE_DUP_THRESHOLD}
    """,
    doc=f"Semantic (cluster-then-compare) near-duplicate pairs: "
        "k-means-assign every embedding to its trained cell (one "
        "exact Lloyd update), then exact cosine ONLY within each "
        f"cell, keeping pairs with cos ≥ {COSINE_DUP_THRESHOLD}. The "
        "clustering twin of dedup_embedding_cosine's sign-LSH gate — "
        "LSH recalls pairs that collide in Hamming space, clustering "
        "recalls pairs that share a Voronoi cell; production corpus "
        "dedup runs one or both. Spark shape: ONE shuffle (groupBy "
        "cell) after the assignment scan; per-cell scoring is a "
        "blocked Arrow/numpy matmul (block × cell, memory bounded per "
        "task regardless of cell size), never a pair join. Cell size "
        "is the designed constant at scale — k grows with the corpus "
        "— so per-task work stays bounded. Integer quantization keeps "
        "every cosine bit-identical to the oracle's, making a "
        "clustered approximate-dedup pass fully hash-checkable.",
    tags=("ml", "kmeans", "dedup", "neardup", "llm", "pandas-udf"),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = (
        cached_assignment(spark, sf_dir)
        # Zero-norm vectors are excluded from cosine scoring
        # engine-wide (see sim_topk_cosine).
        .filter(F.col("norm") > 0)
        .select("cluster", "vec_id", "q")
    )
    # Read at build time: tests shrink it to prove the result is
    # block-size-invariant.
    block = PAIR_BLOCK_ROWS

    def pairs_in_cell(pdf, Q):
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids, Q = pdf["vec_id"].to_numpy()[order], Q[order]
        col = np.arange(len(ids))
        # Blocked upper-triangle scoring: peak memory is
        # block × |cell| doubles per task, independent of cell size.
        for s in range(0, len(ids), block):
            cos = cosine_matrix(Q[s : s + block], Q)
            mask = (cos >= COSINE_DUP_THRESHOLD) & (
                col[None, :] > (s + np.arange(len(cos)))[:, None]
            )
            ii, jj = np.nonzero(mask)
            if len(ii):
                yield pd.DataFrame(
                    {
                        "cluster": np.full(
                            len(ii), pdf["cluster"].iloc[0], dtype="int32"
                        ),
                        "vec_a": ids[s + ii],
                        "vec_b": ids[jj],
                        "cos_sim": cos[ii, jj],
                    }
                )

    return stage(
        assigned.groupBy("cluster"),
        "cluster int, vec_a bigint, vec_b bigint, cos_sim double",
        pairs_in_cell,
    )


_DEDUP_PRE_CTES = """
    sigged AS (
      SELECT vec_id, q, norm,
             md5(array_to_string(
               list_transform(q, x -> CAST(x AS VARCHAR)), ',')) AS sig
      FROM vec
    ),
    dvec AS MATERIALIZED (
      SELECT vec_id, q, norm, CAST(cnt - 1 AS BIGINT) AS n_dups FROM (
        SELECT vec_id, q, norm,
               ROW_NUMBER() OVER (PARTITION BY sig ORDER BY vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY sig) AS cnt
        FROM sigged) WHERE rn = 1
    ),"""

_DEDUP_C0_SQL = f"""
      SELECT CAST(rn - 1 AS INTEGER) AS cluster, q AS cq FROM (
        SELECT q, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM dvec)
      WHERE rn <= {K_CLUSTERS}"""


@register(
    "pipeline_embed_index",
    oracle=f"""{_trained_ctes(pre_ctes=_DEDUP_PRE_CTES, src="dvec",
                              c0_sql=_DEDUP_C0_SQL)}
    SELECT CAST(a.cluster AS INTEGER) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(v.n_dups) AS BIGINT) AS n_dups_dropped,
           CAST(SUM(d.d2) AS BIGINT) AS inertia,
           CAST(MAX(d.d2) AS BIGINT) AS max_d2
    FROM assigned a
    JOIN d2s d ON d.vec_id = a.vec_id AND d.cluster = a.cluster
    JOIN dvec v ON v.vec_id = a.vec_id
    GROUP BY a.cluster
    ORDER BY a.cluster
    """,
    doc="END-TO-END IVF index build over the embeddings table: exact "
        "dedup on the quantized-vector signature (duplicates waste "
        "index space and skew neighbor lists) → train the coarse "
        "quantizer on the SURVIVORS (seeds = first K by vec_id, one "
        "exact Lloyd update) → assign → per-cell index summary "
        "(occupancy, duplicates absorbed per cell, exact BIGINT "
        "inertia and worst-fit distance — the numbers that decide "
        "whether the index needs more cells or better seeds before "
        "serving). The embedding twin of pipeline_curate_corpus: "
        "dedup is ONE hash-partitioned window (only the 32-byte "
        "signature shuffles), training is the k×dim-bounded "
        "convergence channel, assignment is one mapInPandas corpus "
        "scan, and the summary is a k-row aggregate. Fully "
        "hash-checkable: dedup, seed choice, lattice training and "
        "every distance replay exactly in the unrolled DuckDB oracle.",
    tags=("ml", "kmeans", "similarity", "dedup", "pipeline", "llm",
          "pandas-udf"),
)
def pipeline_embed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = _quantized(spark, sf_dir)
    sig = vec_hash(F.col("q"))
    w = Window.partitionBy("sig")
    wr = Window.partitionBy("sig").orderBy("vec_id")
    dvec = (
        emb.withColumn("sig", sig)
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "q",
            (F.col("cnt") - 1).cast("bigint").alias("n_dups"),
        )
    )
    seeds = [
        [float(x) for x in r["q"]]
        for r in pick_vectors(dvec, first=K_CLUSTERS)
    ]
    if not seeds:
        return spark.createDataFrame(
            [],
            "cluster int, n_vectors bigint, n_dups_dropped bigint, "
            "inertia bigint, max_d2 bigint",
        )
    cents = _one_step_centroids(dvec.select("vec_id", "q"), seeds)
    # n_dups rides THROUGH the assignment kernel (r10 opt): the
    # former vec_id join back to dvec just to recover it shuffled
    # both corpus-sized sides; the passthrough costs 8 bytes/row
    # in the same Arrow pass and the join (2 Exchanges) is gone.
    assigned = _assign(
        dvec.select("vec_id", "q", "n_dups"),
        cents,
        passthrough=(("n_dups", "bigint"),),
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("n_dups").alias("n_dups_dropped"),
            F.sum(F.col("d2").cast("bigint")).alias("inertia"),
            F.max(F.col("d2").cast("bigint")).alias("max_d2"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product quantization + ADC.
# --------------------------------------------------------------------------

_IVFPQ_RES_SQL = (
    f"list_transform(generate_series(1, {DIM}), "
    "i -> {v}.q[i] - {c}.cq[i])"
)


# Shared oracle CTE chain ending in ``adc`` (per-(query, candidate)
# asymmetric distances over the probed cells) — consumed by both the
# plain ADC top-k and the exact-rerank refine query.
_IVFPQ_ADC_CTES = f"""{_trained_ctes()},
    res AS MATERIALIZED (
      -- residual r = q - trained_centroid[assigned cell], exact BIGINTs
      SELECT a.vec_id, a.cluster,
             {_IVFPQ_RES_SQL.format(v="v", c="c")} AS r
      FROM assigned a
      JOIN vec v USING (vec_id)
      JOIN cent c ON c.cluster = a.cluster
    ),
    sub AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    cb AS MATERIALIZED (
      -- shared residual codebook: sub-vectors of the first {PQ_KS}
      -- vectors' residuals (same deterministic seeding as sim_pq_adc)
      SELECT sub.m, r.vec_id AS c,
             list_slice(r.r, sub.m * {PQ_SUBDIM} + 1,
                        sub.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS cvec
      FROM res r CROSS JOIN sub
      WHERE r.vec_id < {PQ_KS}
    ),
    encd AS (
      SELECT r.vec_id, cb.m, cb.c,
             {_pq_d2_sql(f"list_slice(r.r, cb.m * {PQ_SUBDIM} + 1, cb.m * {PQ_SUBDIM} + {PQ_SUBDIM})", "cb.cvec")} AS d2
      FROM res r JOIN cb ON TRUE
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, m, c AS code FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c)
                 AS rn
        FROM encd
      ) WHERE rn = 1
    ),
    probes AS (
      -- each query probes its N_PROBE nearest TRAINED cells, exact d2
      SELECT vec_id AS query_id, cluster AS cell FROM (
        SELECT d.vec_id, d.cluster, ROW_NUMBER() OVER (
          PARTITION BY d.vec_id ORDER BY d.d2, d.cluster) AS rn
        FROM d2s d
        WHERE d.vec_id >= {PQ_QUERY_LO} AND d.vec_id < {PQ_QUERY_HI})
      WHERE rn <= {N_PROBE}
    ),
    qres AS (
      -- per-(query, probed cell) residual: rq = q - centroid[cell]
      SELECT p.query_id, p.cell,
             {_IVFPQ_RES_SQL.format(v="v", c="c")} AS rq
      FROM probes p
      JOIN vec v ON v.vec_id = p.query_id
      JOIN cent c ON c.cluster = p.cell
    ),
    adc AS (
      SELECT qr.query_id, e.vec_id, a.cluster AS cell,
             SUM({_pq_d2_sql(f"list_slice(qr.rq, e.m * {PQ_SUBDIM} + 1, e.m * {PQ_SUBDIM} + {PQ_SUBDIM})", "cb.cvec")})
               AS adc_d2
      FROM enc e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN qres qr ON qr.cell = a.cluster
      JOIN cb ON cb.m = e.m AND cb.c = e.code
      WHERE e.vec_id <> qr.query_id
      GROUP BY qr.query_id, e.vec_id, a.cluster
    )"""


@register(
    "sim_ivfpq_search",
    oracle=f"""{_IVFPQ_ADC_CTES}
    SELECT query_id, vec_id, CAST(cell AS INTEGER) AS cell,
           CAST(adc_d2 AS BIGINT) AS adc_d2, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
      FROM adc
    ) WHERE rn <= {PQ_TOPK}
    """,
    doc=f"IVF-PQ search — the production ANN index shape (FAISS "
        f"IndexIVFPQ): a learned coarse quantizer (k-means, one exact "
        f"Lloyd update, {K_CLUSTERS} cells) partitions the corpus; "
        f"every vector is PQ-encoded on its RESIDUAL against its "
        f"cell's centroid ({PQ_M} subspaces x {PQ_KS} codewords, "
        f"codebook = first-{PQ_KS} residuals, the same deterministic "
        "seeding as sim_pq_adc); queries probe their "
        f"{N_PROBE} nearest cells and score candidates by asymmetric "
        "distance — a per-(query, cell) integer lookup table over the "
        "QUERY residual, so scoring a candidate is "
        f"{PQ_M} table lookups on its codes. Residual encoding is why "
        "IVF-PQ beats flat PQ: residuals concentrate near zero, so "
        "the same codebook budget spends its resolution where the "
        "data is. The 100 TB story compounds both parents': the cell "
        "probe prunes the scan set ~(k/nprobe)x AND the codes shrink "
        f"what is scanned {DIM * 4 // PQ_M}x vs raw vectors; memory "
        "per candidate is 8 one-byte codes + a cell id. Spark shape: "
        "ONE corpus assignment scan (centroids ship in the closure), "
        "then ONE mapInPandas that encodes and ADC-scores each Arrow "
        "batch against the config-sized (queries x nprobe) LUT set "
        "with batch-local top-k pruning — the only Exchange carries "
        "O(batches x queries x k) rows into the final per-query "
        "window; no join, nothing data-sized broadcast or collected "
        "(driver sees k x dim centroid sums plus "
        f"{PQ_KS + PQ_QUERY_HI - PQ_QUERY_LO} config-addressed "
        "vectors). Every distance is an exact BIGINT on the "
        "quantization lattice, so the trained-index search replays "
        "bit-identically in the oracle's unrolled SQL.",
    tags=("ml", "kmeans", "similarity", "ann", "ivf", "pq", "llm",
          "pandas-udf"),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_adc(spark, sf_dir, PQ_TOPK)


def _ivfpq_adc(spark: SparkSession, sf_dir: str, keep: int) -> DataFrame:
    """ADC-ranked IVF-PQ candidates, top-``keep`` per query — the
    shared front half of sim_ivfpq_search (keep = PQ_TOPK, the
    answer) and sim_ivfpq_rerank (keep = PQ_RERANK, the shortlist
    the exact refine step re-orders)."""
    from pyspark.sql import Window

    # Trained quantizer + corpus assignment from the session cache
    # (r10 opt, see cached_assignment): search and rerank consume the
    # identical training + assignment passes.
    assigned = cached_assignment(spark, sf_dir)
    out_schema = (
        "query_id bigint, vec_id bigint, cell int, adc_d2 bigint"
    )
    cents = trained_centroids(spark, sf_dir)
    # Config-sized driver collects, same discipline as sim_pq_adc:
    # the codebook-seed and query vectors ride in the closure,
    # read off the cached assignment rather than a second scan.
    seed_rows = pick_vectors(assigned, PQ_KS)
    query_rows = pick_vectors(assigned, PQ_QUERY_HI, PQ_QUERY_LO)
    if not seed_rows or not query_rows:
        return spark.createDataFrame([], out_schema + ", rnk int")

    CENT = np.array(cents, dtype=np.int64)  # (k, dim), lattice ints

    def _nearest_cells(qv: np.ndarray, n: int) -> np.ndarray:
        # exact integer d2 to every trained centroid, ties -> lowest
        # cluster id (same as the oracle's ORDER BY d2, cluster)
        return topk(sq_dist(qv[None, :], CENT)[0], np.arange(len(CENT)), n)

    # Residual codebook: CB[c, m, :] = seed c's residual sub-vector.
    SEED = np.array([r["q"] for r in seed_rows], dtype=np.int64)
    seed_cells = np.array(
        [_nearest_cells(v, 1)[0] for v in SEED], dtype=np.int64
    )
    CB = (SEED - CENT[seed_cells]).reshape(len(seed_rows), PQ_M, PQ_SUBDIM)

    # Per-(query, probed cell) ADC lookup tables.
    qids, lut_rows = [], []  # lut_rows[i] = (query_idx, cell, LUT[m, c])
    for r in query_rows:
        qv = np.array(r["q"], dtype=np.int64)
        qi = len(qids)
        qids.append(int(r["vec_id"]))
        for cell in _nearest_cells(qv, N_PROBE):
            rq = (qv - CENT[cell]).reshape(PQ_M, PQ_SUBDIM)
            lut = ((rq[:, None, :] - CB.transpose(1, 0, 2)) ** 2).sum(
                axis=2
            )  # (m, c)
            lut_rows.append((qi, int(cell), lut))
    qid_arr = np.array(qids, dtype=np.int64)

    def encode_score(pdf, V):
        vids = pdf["vec_id"].values.astype(np.int64)
        cls = pdf["cluster"].values.astype(np.int64)
        codes = pq_encode((V - CENT[cls]).reshape(-1, PQ_M, PQ_SUBDIM), CB)
        for qi, cell, lut in lut_rows:
            in_cell = (cls == cell) & (vids != qid_arr[qi])
            if not in_cell.any():
                continue
            dv = lut[np.arange(PQ_M)[None, :], codes[in_cell]].sum(axis=1)
            vv = vids[in_cell]
            top = topk(dv, vv, keep)
            yield pd.DataFrame(
                {
                    "query_id": qid_arr[qi],
                    "vec_id": vv[top],
                    "cell": np.int32(cell),
                    "adc_d2": dv[top],
                }
            )

    scored = stage(assigned, out_schema, encode_score, dtype=np.int64)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= keep)
        .select("query_id", "vec_id", "cell", "adc_d2", "rnk")
    )


@register(
    "sim_ivfpq_rerank",
    oracle=f"""{_IVFPQ_ADC_CTES},
    short AS (
      SELECT query_id, vec_id, adc_d2 FROM (
        SELECT query_id, vec_id, adc_d2, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_RERANK}
    ),
    refined AS (
      SELECT s.query_id, s.vec_id, CAST(s.adc_d2 AS BIGINT) AS adc_d2,
             q.norm + v.norm
               - 2 * CAST(list_dot_product(q.q, v.q) AS BIGINT)
               AS exact_d2
      FROM short s
      JOIN vec q ON q.vec_id = s.query_id
      JOIN vec v ON v.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, CAST(exact_d2 AS BIGINT) AS exact_d2,
           adc_d2, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY exact_d2, vec_id) AS rn
      FROM refined
    ) WHERE rn <= {PQ_TOPK}
    """,
    doc=f"IVF-PQ search with the exact-rerank refine step — the "
        f"standard production recall recovery (FAISS refine / "
        f"IndexRefineFlat): the ADC stage keeps a top-{PQ_RERANK} "
        f"shortlist per query ({PQ_RERANK // PQ_TOPK}x the answer "
        "size) instead of trusting quantized distances for the final "
        f"order, then re-scores just those {PQ_RERANK} candidates "
        "with EXACT integer L2 against the full stored vectors and "
        f"re-ranks to top-{PQ_TOPK}. Fenced motivation (SCALING.md "
        "IVF-PQ recall table): raw ADC recall@10 is capped by code "
        "fidelity at 0.200 on the uniform fixture; this refine lifts "
        "it to 0.425 at 50 extra vector reads per query — the cheap "
        "end of the recall/compression trade-off, vs 16x codebook "
        "memory for a comparable gain. Spark shape: the shortlist is "
        "config-sized (queries x R rows), so the refine join prunes "
        "the second corpus scan to R semi-joined rows per query and "
        "the exact distance runs JVM-side (zip_with + aggregate over "
        "the lattice ints — no Python in the refine). Exact BIGINT "
        "end-to-end, so the trained-index + refine pipeline replays "
        "bit-identically in the oracle.",
    tags=("ml", "kmeans", "similarity", "ann", "ivf", "pq", "rerank",
          "llm", "pandas-udf"),
)
def sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    short = _ivfpq_adc(spark, sf_dir, PQ_RERANK).select(
        "query_id", "vec_id", "adc_d2"
    )
    # Refine reads the stored vectors off the session-cached
    # assignment (r10 opt) instead of a third parquet scan; cluster is
    # simply not selected.
    emb = cached_assignment(spark, sf_dir)
    qvec = (
        emb.filter(
            (F.col("vec_id") >= PQ_QUERY_LO) & (F.col("vec_id") < PQ_QUERY_HI)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    )
    refined = (
        short.join(emb.select("vec_id", "q"), "vec_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "exact_d2",
            F.aggregate(
                F.zip_with("qq", "q", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_d2").asc(), F.col("vec_id").asc()
    )
    return (
        refined.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "vec_id", "exact_d2", "adc_d2", "rnk")
    )
