"""Skew mitigation: salted two-phase aggregation.

A skewed grouping key (one key holding most rows) makes one reducer
the straggler for the whole stage. Salting splits each key into
``N_SALTS`` sub-keys for the first (heavy) aggregation, then merges
the per-salt partials in a second (tiny) aggregation. The pattern is
only valid for aggregates with a decomposition into partial + merge
(count→sum, sum→sum, min/max→min/max, ...).

Spark's AQE skew-join splitting covers joins; salting is the
aggregation-side counterpart when a single group must not land on a
single task.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"
N_SALTS = 8


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    merge_aggs: Callable[[], Sequence[Column]],
) -> DataFrame:
    """Two-phase grouped aggregation over ``keys``.

    ``partial_aggs`` run per (keys, salt); ``merge_aggs()`` combine the
    partials per keys. The salt is a uniform hash of a per-row random-
    free expression (monotonically_increasing_id) so the split is
    deterministic within a run and needs no data knowledge.
    """
    salted = df.withColumn(
        SALT_COL, (F.monotonically_increasing_id() % N_SALTS).cast("int")
    )
    partial = salted.groupBy(*keys, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs())


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    big_key: str,
    dim_key: str,
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the dim side.

    Each big-side row gets a deterministic salt; the dim side is
    replicated ``N_SALTS`` times (one copy per salt value) so every
    (key, salt) partition finds its match. A hot join key that would
    land on one reducer in a plain shuffle join spreads over
    ``N_SALTS`` of them, at the cost of an N_SALTS-times-larger build
    side — which is why the pattern only applies when ``dim`` is small
    relative to ``big`` but too large (or the join too constrained)
    to broadcast. AQE's skew-join splitting is the automatic
    equivalent; this is the explicit form for when it isn't available.

    The dim key is renamed to ``big_key`` so the join can use
    name-equality on (key, salt) and the output carries one key column.
    """
    salted = big.withColumn(
        SALT_COL, (F.monotonically_increasing_id() % N_SALTS).cast("int")
    )
    replicated = dim.withColumnRenamed(dim_key, big_key).withColumn(
        SALT_COL,
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)).cast("array<int>")),
    )
    return salted.join(
        replicated.hint("shuffle_hash"), [big_key, SALT_COL]
    ).drop(SALT_COL)
