"""Distributed TRAINED quality classifier: batch-gradient logistic-style
regression over hashed bag-of-words features.

This is the fastText-shaped gate real curation stacks train (the
GPT-3/CCNet recipe: a linear classifier over hashed text features
scores every document, and the gate keeps the high/low tail). The
reference engine has no ML surface (its 190-line core is ETL only,
/root/reference/main.py); SURVEY.md §2.3 plans the LLM-data operators
as first-class, and this module adds the one shape the heuristic gates
(text_quality_score, text_hashing_trick_score) lack: the
GRADIENT-AGGREGATION loop that *learns* the weights from the corpus.

Task: predict near-dup membership (Jaccard >= PREFIX_JACCARD_T pair
membership — the dedup_prefix_filter_pairs bar, the same label
curation_quality_lift calibrates against) from the HASH_DIM hashed
token-count features of text_hashing_trick_score. The trained score is
a boilerplate/redundancy gate: rank by it and the near-dup mass
concentrates in the top deciles far harder than the heuristic
distinct-token-ratio manages (the pytest fence pins the measured lift).

Model/exactness (the ml_kmeans_step discipline — oracle-paired
training, rare for ML):

* link: the ALGEBRAIC sigmoid p(z) = (1 + z/(1+|z|))/2 — a strictly
  increasing rational squashing to (0,1). The textbook logistic
  sigmoid needs exp() (libm, banned in oracle-paired expressions —
  repo-wide rule, same trade as rational-idf BM25); for ANY increasing
  link the update direction (p(z) − y)·x is the exact gradient of that
  link's convex matching loss, so this is gradient descent on a proper
  convex objective, not a heuristic.
* exactness lattice: weights live on an integer lattice (w_int / 2^24)
  and every cross-row sum is over BIGINTs — the per-doc residual is
  floor-rounded to r = FLOOR(g/dl · 2^24) BEFORE the gradient sum
  grad_j = Σ_i r_i·x_ij, so Spark's and DuckDB's (and the driver's)
  different summation orders cannot diverge; the scalar chain
  z → p → g is ONE fixed IEEE expression tree both engines evaluate
  identically from the exact integers (zraw, dl, y).
* update: w_int_j ← w_int_j − FLOOR(grad_j · LR / n) — again a single
  float expression of exact integers, floor-pinned back to the lattice.

Spark shape (the kmeans-centroid contract, plans/ml.py):

* features are built ONCE: tokens → md5-bucket ids (array<int>) with
  the near-dup label joined on, then cached — token hashing never
  recomputes across iterations;
* each scoring pass is IN-ROW: the 1024-weight model ships as a plan
  literal and zraw = Σ_t w[bucket(t)] is a JVM higher-order aggregate
  — NO join, NO explode in the scoring path;
* each gradient is one explode → groupBy(bucket) with map-side partial
  aggregation: the shuffle is DIMENSION-bounded (≤ HASH_DIM rows per
  task), never data-bounded, exactly the distributed-SGD allreduce
  shape;
* the driver only ever sees the HASH_DIM-int model per iteration (the
  config-bounded collect contract of ml_kmeans_*'s centroids).

The oracle unrolls all LOGREG_ITERS iterations as chained CTEs (the
graph_dup_pagerank / ml_kmeans_lloyd dissolve-the-fixpoint trick) and
replays training bit-identically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.operators.caching import (
    session_cached,
    session_checkpointed,
    session_memo,
)
from etl_spark.plans.llm_dedup import (
    _H60_SQL,
    PREFIX_JACCARD_T,
    SHINGLES_SQL,
)
from etl_spark.plans.llm_text import (
    _H16_TOKEN_SQL,
    HASH_DIM,
    token_bucket,
    tokens_col,
)
from etl_spark.plans.registry import register

LOGREG_ITERS = 4
#: Content-hash train split for the holdout evaluation (the
#: curation_train_val_split convention: md5(text) 60-bit prefix mod
#: 100 — byte-identical duplicates always co-assign).
HOLDOUT_TRAIN_PCT = 80
#: Integer learning rate (dyadic so the update literal is exact in
#: both engines and the driver). LR=32 measured: loss 134.2e9 →
#: 56.7e9 over 4 iterations at sf0.01, top-decile dup rate 0.56 vs
#: 0.094 base (0.52 at sf0.1) — see tests/test_ml_logreg.py.
LOGREG_LR = 32
_W_SCALE = 2**24  # weight lattice: w = w_int / 2^24
_G_SCALE = 2**24  # residual lattice: r = floor(g/dl * 2^24)
_LOSS_SCALE = 2**30  # Brier telemetry lattice
LOGREG_DECILES = 10

# The shared scalar chain — ONE expression tree, rendered identically
# into Spark (F.expr) and DuckDB. Inputs are exact: zraw/dl BIGINT,
# y INT. No decimal literals (they parse as DECIMAL, gotcha), no libm.
_Z_SQL = (
    f"(CAST(zraw AS DOUBLE) / (CAST({_W_SCALE} AS DOUBLE)"
    " * CAST(dl AS DOUBLE)))"
)
_P_SQL = (
    f"((CAST(1 AS DOUBLE) + ({_Z_SQL} / (CAST(1 AS DOUBLE)"
    f" + ABS({_Z_SQL})))) / CAST(2 AS DOUBLE))"
)
_G_SQL = f"({_P_SQL} - CAST(y AS DOUBLE))"
_R_SQL = (
    f"CAST(FLOOR(({_G_SQL} / CAST(dl AS DOUBLE))"
    f" * CAST({_G_SCALE} AS DOUBLE)) AS BIGINT)"
)
_LOSS_SQL = (
    f"CAST(FLOOR(({_G_SQL} * {_G_SQL})"
    f" * CAST({_LOSS_SCALE} AS DOUBLE)) AS BIGINT)"
)


def _logreg_ctes(
    train_only: bool = False,
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
) -> str:
    """The full unrolled-training CTE chain: label → features → w0 →
    (score, residual, gradient, update) × LOGREG_ITERS → final score
    pass s{T+1}. Shared by all registered oracles. With
    ``train_only``, residuals (and therefore gradients) and the mean
    normalizer are restricted to the content-hash train split —
    scoring passes still cover every doc so the holdout can be
    evaluated from s{T+1}. ``l2_shift`` adds the L2 weight-decay term
    −FLOOR(w / 2^shift) to every update (one extra integer-lattice
    term: the dyadic division is exact in a double and the FLOOR pins
    it back to the lattice, so replay stays bit-identical);
    ``lr_schedule`` replaces the constant learning rate with
    per-iteration integer rates (a per-iteration literal — free)."""
    T = LOGREG_ITERS
    H60 = _H60_SQL
    TPCT = HOLDOUT_TRAIN_PCT
    lrs = lr_schedule or (LOGREG_LR,) * T
    assert len(lrs) == T
    NNW = RW = " WHERE tr" if train_only else ""
    parts = [f"""
    WITH sh AS ({SHINGLES_SQL}),
    sized AS (
      SELECT doc_id, shingle,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM sh
    ),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_common,
             ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
      FROM sized a JOIN sized b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dd AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM prs
        WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
              >= {PREFIX_JACCARD_T}
        UNION ALL
        SELECT doc_b FROM prs
        WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
              >= {PREFIX_JACCARD_T}
      )
    ),
    labeled AS MATERIALIZED (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
             CASE WHEN doc_id IN (SELECT doc_id FROM dd)
                  THEN 1 ELSE 0 END AS y,
             ({H60}) % 100 < {TPCT} AS tr,
             ts
      FROM (SELECT doc_id, string_split(text, ' ') AS ts, md5(text) AS h
            FROM documents WHERE text IS NOT NULL)
    ),
    tf AS MATERIALIZED (
      SELECT doc_id, ({_H16_TOKEN_SQL}) % {HASH_DIM} AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(ts) AS t FROM labeled)
      GROUP BY doc_id, b
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM labeled{NNW}),
    w0 AS (
      SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
      FROM range({HASH_DIM})
    ),"""]
    for k in range(1, T + 2):
        p = k - 1
        parts.append(f"""
    s{k} AS MATERIALIZED (
      SELECT l.doc_id, l.dl, l.y, l.tr,
             CAST(COALESCE(SUM(w.w * t.cnt), 0) AS BIGINT) AS zraw
      FROM labeled l
      LEFT JOIN tf t ON t.doc_id = l.doc_id
      LEFT JOIN w{p} w ON w.b = t.b
      GROUP BY l.doc_id, l.dl, l.y, l.tr
    ),""")
        if k == T + 1:
            break  # s{T+1} is the final-weight eval pass; no update
        decay = (
            ""
            if l2_shift is None
            else f"""
               - CAST(FLOOR(CAST(w.w AS DOUBLE)
                            / CAST({2 ** l2_shift} AS DOUBLE)) AS BIGINT)"""
        )
        parts.append(f"""
    r{k} AS (SELECT doc_id, {_R_SQL} AS r FROM s{k}{RW}),
    g{k} AS (
      SELECT t.b, CAST(SUM(r.r * t.cnt) AS BIGINT) AS grad
      FROM tf t JOIN r{k} r USING (doc_id)
      GROUP BY t.b
    ),
    w{k} AS MATERIALIZED (
      SELECT w.b,
             w.w - COALESCE(
               CAST(FLOOR((CAST(g.grad AS DOUBLE)
                           * CAST({lrs[k - 1]} AS DOUBLE))
                          / (SELECT nd FROM nn)) AS BIGINT), 0){decay} AS w
      FROM w{p} w LEFT JOIN g{k} g ON g.b = w.b
    ),""")
    return "".join(parts).rstrip(",")


def _train_oracle_sql(
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
) -> str:
    stats = []
    for k in range(LOGREG_ITERS + 1):
        stats.append(f"""
    SELECT CAST({k} AS INTEGER) AS iter,
           CAST(SUM({_LOSS_SQL}) AS BIGINT) AS loss_lat,
           CAST(SUM(CASE WHEN (zraw > 0) = (y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN zraw > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos_pred,
           (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w{k}) AS w_l1,
           (SELECT CAST(SUM(CASE WHEN w <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) FROM w{k}) AS w_nnz
    FROM s{k + 1}""")
    body = "\n    UNION ALL".join(stats)
    return f"""{_logreg_ctes(l2_shift=l2_shift, lr_schedule=lr_schedule)}
    SELECT * FROM ({body}) ORDER BY iter
    """


def dup_label_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup membership LABEL frame — (doc_id, is_dup=1), one
    row per near-dup member — materialized ONCE per (session, sf_dir)
    as a DISK_ONLY localCheckpoint via the sanctioned registry
    (operators/caching.session_checkpointed). This is the honest
    100 TB shape SCALING.md argues: the label is an artifact the
    dedup pipeline already wrote; training READS it rather than
    re-deriving the prefix-pair machinery inside the training plan.
    Consumers' executed plans show a leaf scan where the
    prefix-filter join tree used to be (PLANS.md Exchange receipt),
    and the artifact survives clearCache between bench reps exactly
    like a written table would."""
    from etl_spark.plans.llm_dedup import dedup_prefix_filter_pairs

    def build() -> DataFrame:
        pairs = dedup_prefix_filter_pairs(spark, sf_dir)
        # explode(array(doc_a, doc_b)), not a union of two projections
        # (r10 opt, same fix as curation_quality_lift): the union form
        # evaluated the prefix-pair subtree once per branch; the
        # map-side explode emits the same two rows per pair from ONE
        # evaluation — halving the label-materialization pass.
        return (
            pairs.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            )
            .distinct()
            .withColumn("is_dup", F.lit(1))
        )

    return session_checkpointed("logreg_labels", spark, sf_dir, build)


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, y, buckets) — hashed once, label read from the
    materialized label artifact (dup_label_frame), persisted via the
    sanctioned session cache (training rescans it 2T+1 times)."""

    def build() -> DataFrame:
        dup_docs = dup_label_frame(spark, sf_dir)
        toks = tokens_col()
        h60 = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast(
            "bigint"
        )
        return (
            load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select(
                "doc_id",
                F.size(toks).cast("bigint").alias("dl"),
                F.transform(toks, token_bucket).alias("buckets"),
                (h60 % 100 < HOLDOUT_TRAIN_PCT).alias("tr"),
            )
            .join(dup_docs, "doc_id", "left")
            .select(
                "doc_id", "dl", "buckets", "tr",
                F.coalesce("is_dup", F.lit(0)).cast("int").alias("y"),
            )
        )

    return session_cached("logreg_features", spark, sf_dir, build)


def _zraw_col(warr: list[int]):
    """In-row model application: zraw = Σ_t w_int[bucket(t)] — the
    HASH_DIM-int model rides as a plan literal (config-sized, the
    kmeans-centroid contract), so scoring is join-free and the sum is
    an exact BIGINT in any evaluation order."""
    wlit = F.lit(warr).cast("array<bigint>")
    return F.aggregate(
        F.col("buckets"),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.element_at(wlit, b + F.lit(1)),
    )


def _train(
    spark: SparkSession,
    sf_dir: str,
    train_only: bool = False,
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
):
    """Run LOGREG_ITERS batch-gradient steps; returns (weights history
    [w_0..w_T], cached feature DF, n used as the gradient-mean
    normalizer). With ``train_only``, gradients and the normalizer
    come from the content-hash train split only. ``l2_shift`` /
    ``lr_schedule`` are the regularized variant's extra lattice term
    and per-iteration rates (see _logreg_ctes)."""
    # feats is fetched OUTSIDE the memo so a bench-rep clearCache()
    # re-persists it via session_cached; only the (deterministic)
    # weight history and count are memoized — the lift query reuses
    # the train query's weights instead of re-running the gradient jobs.
    feats = _features(spark, sf_dir)
    grad_src = feats.filter("tr") if train_only else feats
    hist, n = session_memo(
        "logreg_weights", spark, (sf_dir, train_only, l2_shift, lr_schedule),
        lambda: _descend(grad_src, l2_shift, lr_schedule),
    )
    return hist, feats, n


def _descend(
    grad_src: DataFrame,
    l2_shift: int | None,
    lr_schedule: tuple[int, ...] | None,
):
    """The LOGREG_ITERS batch-gradient steps over ``grad_src``; returns
    (weights history [w_0..w_T], n)."""
    lrs = lr_schedule or (LOGREG_LR,) * LOGREG_ITERS
    n = grad_src.count()  # 1 scalar (frame itself already materialized)
    w = [0] * HASH_DIM
    hist = [list(w)]
    for it in range(LOGREG_ITERS):
        grad_rows = (
            grad_src.withColumn("zraw", _zraw_col(w))
            .withColumn("r", F.expr(_R_SQL))
            .select(F.explode("buckets").alias("b"), "r")
            .groupBy("b")
            .agg(F.sum("r").alias("grad"))
            .collect()  # config-bounded: <= HASH_DIM rows
        )
        prev = list(w)
        for row in grad_rows:
            # EXACT mirror of the oracle's update expression: one
            # IEEE double multiply, divide, floor — python floats ARE
            # IEEE doubles, and grad < 2^53 casts exactly.
            delta = math.floor(
                (float(row["grad"]) * float(lrs[it])) / float(n)
            )
            w[row["b"]] -= delta
        if l2_shift is not None:
            # the decay reads the PREVIOUS weights, exactly like the
            # oracle's w{p}-sourced term; dyadic division is exact
            for j in range(HASH_DIM):
                if prev[j]:
                    w[j] -= math.floor(prev[j] / float(2 ** l2_shift))
        hist.append(list(w))
    return hist, n


@register(
    "ml_logreg_train",
    oracle=_train_oracle_sql(),
    doc=f"TRAINED quality classifier — {LOGREG_ITERS} batch-gradient "
        "iterations of logistic-style regression (algebraic-sigmoid "
        "matching loss: exact gradient of a convex objective, no "
        f"libm) over the {HASH_DIM}-dim hashed token features of "
        "text_hashing_trick_score, labels = near-dup membership at "
        f"Jaccard >= {PREFIX_JACCARD_T} (the curation_quality_lift "
        "signal). Emits per-iteration telemetry: lattice Brier loss "
        "(monotone decreasing — pytest fence), train accuracy at the "
        "z>0 cut, positive-prediction count, and the model's L1/nnz "
        "checksums which pin the ENTIRE weight vector against the "
        "oracle's unrolled replay. Exactness: integer weight/residual "
        "lattices make every cross-row sum a BIGINT (order-free); the "
        "scalar chain is one fixed IEEE tree. Plan: features hashed "
        "ONCE into a cached array<int> column; each scoring pass is "
        "in-row (model as plan literal — no join); each gradient is "
        "one explode→groupBy(bucket) with map-side partial agg, a "
        f"DIMENSION-bounded shuffle (<= {HASH_DIM} rows/task); the "
        f"driver sees only the {HASH_DIM}-int model per iteration "
        "(the ml_kmeans centroid contract). At 100 TB this is the "
        "allreduce shape of distributed SGD with the corpus scan as "
        "the map side.",
    tags=("ml", "llm", "training", "classifier"),
)
def ml_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _train_telemetry(spark, sf_dir)


def _train_telemetry(
    spark: SparkSession,
    sf_dir: str,
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
) -> DataFrame:
    hist, feats, _n = _train(
        spark, sf_dir, l2_shift=l2_shift, lr_schedule=lr_schedule
    )
    # ONE scan for all iterations' telemetry (r10 opt, guide §1.2
    # "don't compute things twice"): every iteration's stats are sums
    # of expressions over (zraw_k, dl, y), and the full weight history
    # is in hand after training — so score all T+1 models in one
    # projection, take one 1-row aggregate of 3(T+1) sums, and explode
    # it back to the per-iteration rows in-plan. The former shape was
    # T+1 unioned scan+aggregate subtrees over the cached features —
    # five passes (and five AQE-planned jobs) where one suffices. Sums
    # are over the identical rows and expressions, so every lattice
    # integer is unchanged.
    scored = feats
    for k, wk in enumerate(hist):
        scored = scored.withColumn(f"z{k}", _zraw_col(wk))
    aggs = []
    for k in range(len(hist)):
        loss_k = _LOSS_SQL.replace("zraw", f"z{k}")
        aggs += [
            F.sum(F.expr(loss_k)).cast("bigint").alias(f"loss_{k}"),
            F.sum(
                F.when(F.expr(f"(z{k} > 0) = (y = 1)"), 1).otherwise(0)
            ).cast("bigint").alias(f"corr_{k}"),
            F.sum(
                F.when(F.col(f"z{k}") > 0, 1).otherwise(0)
            ).cast("bigint").alias(f"pos_{k}"),
        ]
    one = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("iter"),
                F.col(f"loss_{k}").alias("loss_lat"),
                F.col(f"corr_{k}").alias("n_correct"),
                F.col(f"pos_{k}").alias("n_pos_pred"),
                F.lit(sum(abs(x) for x in wk)).cast("bigint").alias("w_l1"),
                F.lit(sum(1 for x in wk if x != 0)).cast("bigint").alias(
                    "w_nnz"
                ),
            )
            for k, wk in enumerate(hist)
        ]
    )
    return (
        one.select(F.explode(rows).alias("s")).select("s.*").orderBy("iter")
    )


#: The regularized variant's hyperparameters: L2 weight decay
#: −FLOOR(w / 2^5) per iteration (≈ 3% shrinkage toward zero — one
#: extra integer-lattice term, exactly replayable) and a decaying
#: integer learning-rate schedule (larger early steps, settling).
#: Chosen by measurement: holdout top-tile dup rate >= the
#: unregularized model at sf0.01 / sf0.1 / the perturbed 10x corpus
#: (0.25 / 0.2548-vs-0.2452 / 0.1693), fenced in
#: tests/test_ml_logreg.py.
LOGREG_L2_SHIFT = 5
LOGREG_LR_SCHEDULE = (64, 48, 32, 16)


@register(
    "ml_logreg_train_l2",
    oracle=_train_oracle_sql(
        l2_shift=LOGREG_L2_SHIFT, lr_schedule=LOGREG_LR_SCHEDULE
    ),
    doc="REGULARIZED variant of ml_logreg_train: same batch-gradient "
        f"loop plus (a) L2 weight decay — every update subtracts "
        f"FLOOR(w / 2^{LOGREG_L2_SHIFT}), one extra integer-lattice "
        "term, so the oracle still replays training bit-identically — "
        f"and (b) a decaying integer learning-rate schedule "
        f"{LOGREG_LR_SCHEDULE} (a per-iteration literal in the update "
        "expression; larger early steps, settling later). Emits the "
        "same per-iteration telemetry; w_l1 is strictly below the "
        "unregularized run's (shrinkage is real, pytest-fenced) and "
        "the regularized model's holdout lift is >= the unregularized "
        "one's, including on a perturbed content-diversity corpus "
        "(the deploy-the-regularized-gate justification, fenced in "
        "tests/test_ml_logreg.py). Plan shape identical to "
        "ml_logreg_train — the decay term is driver-side arithmetic "
        "on the config-sized weight vector.",
    tags=("ml", "llm", "training", "classifier", "regularization"),
)
def ml_logreg_train_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _train_telemetry(
        spark, sf_dir,
        l2_shift=LOGREG_L2_SHIFT, lr_schedule=LOGREG_LR_SCHEDULE,
    )


def _lift_oracle_sql() -> str:
    T1 = LOGREG_ITERS + 1
    return f"""{_logreg_ctes()},
    final AS (SELECT doc_id, {_Z_SQL} AS score, y FROM s{T1}),
    tiled AS (
      SELECT score, y,
             NTILE({LOGREG_DECILES}) OVER (ORDER BY score, doc_id)
               AS decile
      FROM final
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_dups,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS dup_rate,
           MIN(score) AS score_lo,
           MAX(score) AS score_hi
    FROM tiled
    GROUP BY decile
    ORDER BY decile
    """


@register(
    "ml_logreg_quality_lift",
    oracle=_lift_oracle_sql(),
    doc="Calibration of the TRAINED gate, decile-for-decile comparable "
        "with curation_quality_lift's heuristic table: every doc is "
        "scored with the final ml_logreg_train weights (z, an exact "
        "double of the integer lattice), ranked into "
        f"{LOGREG_DECILES} exact deciles, and each decile reports its "
        "near-dup rate. Measured lift at sf0.01: top decile 0.56 dup "
        "rate vs 0.094 base and vs 0.22 for the best heuristic "
        "(distinct-token-ratio) decile — the trained gate concentrates "
        ">2.5x harder (pytest-fenced, trained-on-corpus calibration "
        "as in practice: the gate is calibrated on the corpus it "
        "curates). Plan: reuses the memoized trained model (no "
        "retraining when both queries run in-session), scoring is "
        "in-row with the model literal, and the global decile uses "
        "the two-phase prefix rank (operators/ranking.py) — NO "
        "single-partition window at any corpus size.",
    tags=("ml", "llm", "curation", "quality", "lift"),
)
def ml_logreg_quality_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.ranking import (
        global_rank,
        ntile_from_rank,
    )

    hist, feats, _n = _train(spark, sf_dir)
    scored = (
        feats.withColumn("zraw", _zraw_col(hist[-1]))
        .select("doc_id", F.expr(_Z_SQL).alias("score"), "y")
    )
    ranked, totals = global_rank(scored, [("score", "doc_id", "rn")])
    tiled = ranked.select(
        "score", "y",
        ntile_from_rank(F.col("rn"), totals["n"], LOGREG_DECILES).alias(
            "decile"
        ),
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_dups"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
                "dup_rate"
            ),
            F.min("score").alias("score_lo"),
            F.max("score").alias("score_hi"),
        )
        .orderBy("decile")
    )


HOLDOUT_TILES = 5


def _holdout_oracle_sql(
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
) -> str:
    T1 = LOGREG_ITERS + 1
    return f"""{_logreg_ctes(
        train_only=True, l2_shift=l2_shift, lr_schedule=lr_schedule
    )},
    held AS (
      SELECT doc_id, {_Z_SQL} AS score, y
      FROM s{T1} WHERE NOT tr
    ),
    tiled AS (
      SELECT score, y,
             NTILE({HOLDOUT_TILES}) OVER (ORDER BY score, doc_id)
               AS tile
      FROM held
    )
    SELECT CAST(tile AS INTEGER) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_dups,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS dup_rate,
           MIN(score) AS score_lo,
           MAX(score) AS score_hi
    FROM tiled
    GROUP BY tile
    ORDER BY tile
    """


@register(
    "ml_logreg_holdout_lift",
    oracle=_holdout_oracle_sql(),
    doc="GENERALIZATION receipt for the trained gate — the honest "
        "complement to ml_logreg_quality_lift's on-corpus calibration: "
        f"training (gradients AND the mean normalizer) restricted to "
        f"the {HOLDOUT_TRAIN_PCT}% content-hash train split (the "
        "curation_train_val_split convention, so byte-identical "
        "duplicates co-assign), then every HELD-OUT doc is scored "
        f"with the final weights and ranked into {HOLDOUT_TILES} "
        "exact tiles, each reporting its near-dup rate. Lift on docs "
        "the model never saw is the evidence a gate owner actually "
        "needs before deploying the classifier on new crawl batches. "
        "Same exactness contract as ml_logreg_train (integer "
        "lattices, unrolled-CTE oracle replaying the split training "
        "bit-identically); same plan shape plus one in-row split "
        "predicate — the holdout is a filter, never a second scan.",
    tags=("ml", "llm", "training", "quality", "holdout"),
)
def ml_logreg_holdout_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _holdout_lift(spark, sf_dir)


def _holdout_lift(
    spark: SparkSession,
    sf_dir: str,
    l2_shift: int | None = None,
    lr_schedule: tuple[int, ...] | None = None,
) -> DataFrame:
    from etl_spark.operators.ranking import (
        global_rank,
        ntile_from_rank,
    )

    hist, feats, _n = _train(
        spark, sf_dir, train_only=True,
        l2_shift=l2_shift, lr_schedule=lr_schedule,
    )
    held = (
        feats.filter(~F.col("tr"))
        .withColumn("zraw", _zraw_col(hist[-1]))
        .select("doc_id", F.expr(_Z_SQL).alias("score"), "y")
    )
    ranked, totals = global_rank(held, [("score", "doc_id", "rn")])
    tiled = ranked.select(
        "score", "y",
        ntile_from_rank(F.col("rn"), totals["n"], HOLDOUT_TILES).alias(
            "tile"
        ),
    )
    return (
        tiled.groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_dups"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
                "dup_rate"
            ),
            F.min("score").alias("score_lo"),
            F.max("score").alias("score_hi"),
        )
        .orderBy("tile")
    )


@register(
    "ml_logreg_holdout_lift_l2",
    oracle=_holdout_oracle_sql(
        l2_shift=LOGREG_L2_SHIFT, lr_schedule=LOGREG_LR_SCHEDULE
    ),
    doc="Holdout-generalization receipt for the REGULARIZED model "
        "(ml_logreg_train_l2's L2 decay + learning-rate schedule, "
        "trained on the content-hash train split only): held-out docs "
        f"scored with the final regularized weights into "
        f"{HOLDOUT_TILES} exact tiles. The deployment comparison this "
        "enables — regularized top-tile dup rate >= the unregularized "
        "ml_logreg_holdout_lift's, measured at sf0.01/sf0.1/perturbed "
        "10x and fenced in tests/test_ml_logreg.py — is the evidence "
        "for shipping the regularized gate. Same unrolled-CTE oracle "
        "machinery, same plan shape.",
    tags=("ml", "llm", "training", "quality", "holdout",
          "regularization"),
)
def ml_logreg_holdout_lift_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _holdout_lift(
        spark, sf_dir,
        l2_shift=LOGREG_L2_SHIFT, lr_schedule=LOGREG_LR_SCHEDULE,
    )


TOP_FEATS = 20


def _top_features_oracle_sql() -> str:
    T = LOGREG_ITERS
    return f"""{_logreg_ctes()},
    fw AS (
      SELECT b, w,
             ROW_NUMBER() OVER (ORDER BY ABS(w) DESC, b ASC) AS rnk
      FROM w{T} WHERE w <> 0
    ),
    vb AS (
      SELECT ({_H16_TOKEN_SQL}) % {HASH_DIM} AS b,
             CAST(COUNT(DISTINCT t) AS BIGINT) AS n_tokens,
             array_to_string(list_sort(list(DISTINCT t)), ',') AS tokens
      FROM (SELECT unnest(ts) AS t FROM labeled)
      GROUP BY b
    )
    SELECT CAST(fw.rnk AS INTEGER) AS rnk,
           CAST(fw.b AS BIGINT) AS bucket,
           fw.w AS w_int,
           COALESCE(vb.n_tokens, 0) AS n_tokens,
           COALESCE(vb.tokens, '') AS tokens
    FROM fw LEFT JOIN vb ON vb.b = fw.b
    WHERE fw.rnk <= {TOP_FEATS}
    ORDER BY rnk
    """


@register(
    "ml_logreg_top_features",
    oracle=_top_features_oracle_sql(),
    doc=f"Model interpretability — what the trained gate actually "
        f"learned: the {TOP_FEATS} hash buckets with the largest "
        "|weight| after training, each mapped back to the vocabulary "
        "tokens that hash into it (the collision-aware feature "
        "inspection every hashed-linear-model owner runs before "
        "trusting a gate: a junk signal hiding behind a hash "
        "collision shows up here as an implausible token list). "
        "Tie-break (|w| DESC, bucket ASC) is total and integer-exact. "
        "Plan: the model is driver-resident (HASH_DIM ints — the "
        "kmeans contract), so ranking is driver-side arithmetic on "
        "config-sized data; the token map is one distinct-explode "
        "over the corpus grouped per bucket (vocab-bounded output) "
        "joined to the 20-row top list broadcast. Nothing pair-sized, "
        "nothing data-sized collected.",
    tags=("ml", "llm", "training", "interpretability"),
)
def ml_logreg_top_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist, _feats, _n = _train(spark, sf_dir)
    wT = hist[-1]
    order = sorted(
        ((b, w) for b, w in enumerate(wT) if w != 0),
        key=lambda t: (-abs(t[1]), t[0]),
    )[:TOP_FEATS]
    top_df = spark.createDataFrame(
        [(i + 1, b, w) for i, (b, w) in enumerate(order)],
        "rnk int, bucket bigint, w_int bigint",
    )
    toks = tokens_col()
    vb = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(toks).alias("t"))
        .distinct()
        .select(token_bucket(F.col("t")).cast("bigint").alias("bucket"), "t")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.array_join(F.array_sort(F.collect_set("t")), ",").alias(
                "tokens"
            ),
        )
    )
    return (
        # broadcast: TOP_FEATS rows, config-sized. Right join mirrors
        # the oracle's LEFT JOIN: a ranked bucket survives even if no
        # token maps to it (cannot happen — gradients only flow
        # through occupied buckets — but the defensive shape matches).
        vb.join(F.broadcast(top_df), "bucket", "right")
        .select(
            "rnk", "bucket", "w_int",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("tokens", F.lit("")).alias("tokens"),
        )
        .orderBy("rnk")
    )
