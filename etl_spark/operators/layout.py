"""Sort-clustered parquet layout: zone-map data skipping for
selective scans.

Hive partitioning (tests/test_partition_pruning.py) prunes on LOW-
cardinality keys; bucketing (operators/bucketing.py) co-locates JOIN
keys. This module covers the third layout axis: HIGH-cardinality
range predicates (timestamps, prices, ids). `repartitionByRange`
assigns each output file a disjoint slice of the sort key's domain
and `sortWithinPartitions` orders rows inside it, so every parquet
file/row-group carries tight, non-overlapping min/max statistics.
A reader with `value BETWEEN lo AND hi` then skips every file whose
zone does not overlap — the same mechanism Delta/Iceberg market as
"data skipping" / OPTIMIZE ZORDER (single-key form), expressed with
nothing but built-in Spark writes.

At 100 TB the sort is one range-partitioned shuffle (sampling picks
the range bounds — skew-resistant by construction) and pays for
itself on the first selective scan; the skipping itself is free
because parquet readers (Spark's included) consult row-group stats
before decompressing anything.

The reference has no layout maintenance at all (its sink is
one CSV, /root/reference/main.py:19-25); this is part of the
at-scale surface SURVEY.md §2.2 adds under formats/maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_sorted_layout(
    df: DataFrame, path: str, sort_col: str, n_files: int
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files range-clustered on
    ``sort_col``: file k holds the k-th slice of the sorted domain,
    rows sorted within the file so row-group stats are tight too."""
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_zones(path: str, column: str) -> list[tuple[str, float, float]]:
    """(file, min, max) of ``column`` per parquet file, straight from
    the footer statistics — the zone map a skipping reader consults.
    Pure metadata: no data pages are read."""
    import glob

    import pyarrow.parquet as pq

    zones = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index(column)
        lo, hi = None, None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return []  # stats missing → no skipping possible
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            zones.append((f, lo, hi))
    return zones


def zones_overlapping(
    zones: list[tuple[str, float, float]], lo: float, hi: float
) -> list[str]:
    """Files a ``column BETWEEN lo AND hi`` scan cannot skip."""
    return [f for f, zlo, zhi in zones if zhi >= lo and zlo <= hi]


def read_with_skipping(spark: SparkSession, path: str) -> DataFrame:
    """Plain parquet read; filter pushdown (on by default) lets the
    reader skip row groups via the statistics written above."""
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Z-order (multi-column) clustering
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # quantile buckets per dimension (2^8 = 256)


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = ZORDER_BITS
):
    """Z-value Column interleaving the quantile-bucket bits of ``cols``
    — EAGER: runs a driver-side approxQuantile job (a Spark action
    over ``df``) at call time, not at plan execution.

    Each column is first rank-uniformized into ``2^bits`` buckets via
    approxQuantile boundaries (a sampling aggregate — the same
    skew-resistant mechanism repartitionByRange uses; the driver sees
    only ``2^bits - 1`` doubles per column, config-bounded). Bucketing
    by quantiles rather than raw value range keeps the Z-curve
    balanced under any marginal distribution. The bucket lookup and
    the bit interleave are pure built-in expressions (aggregate over a
    literal boundary array + shift/or), so the whole derivation stays
    inside whole-stage codegen — no UDF, no extra shuffle.

    Why interleave: sorting by (a, b) lexicographically gives file
    zones that are tight on ``a`` and useless on ``b``; interleaving
    the bucket bits makes every file cover a small square-ish region
    of the (a, b) quantile grid, so min/max stats prune on BOTH
    columns. This is Delta/Iceberg's OPTIMIZE ZORDER expressed with
    nothing but built-in Spark writes (the reference has no layout
    surface at all; SURVEY.md §2.2 formats/maintenance).
    """
    from pyspark.sql import functions as F

    # The interleaved value must fit in a non-negative BIGINT: bit 63
    # is the sign (shiftleft(1, 63) = Long.MIN_VALUE would invert the
    # curve at its most significant bit) and Java shift distances wrap
    # mod 64 beyond that.
    if len(cols) * bits > 63:
        raise ValueError(
            f"z-order needs {len(cols)}x{bits}={len(cols) * bits} bits; "
            "at most 63 fit in a BIGINT — lower bits or drop columns"
        )
    # The bucket lookup below is an F.aggregate over a 2^bits - 1
    # element literal boundary array — O(2^bits) work PER ROW. 12 bits
    # (4096 buckets) is already ~16x the default cost; beyond that the
    # per-row scan silently dominates the write it is meant to help.
    if bits > 12:
        raise ValueError(
            f"bits={bits}: per-row bucket cost is O(2^bits) via the "
            "literal-boundary aggregate; 12 is the supported ceiling"
        )
    nb = (1 << bits) - 1
    # One pass computes every column's boundaries (approxQuantile
    # accepts a column list), not one full scan per column.
    all_bounds = df.stat.approxQuantile(
        cols, [i / (nb + 1) for i in range(1, nb + 1)], 0.001
    )
    parts = []
    for ci, (c, bounds) in enumerate(zip(cols, all_bounds)):
        bucket = F.aggregate(
            F.lit(bounds).cast("array<double>"),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
        )
        parts.append((ci, bucket))
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for ci, bucket in parts:
        for i in range(bits):
            # bit i of this column lands at position i*n + (n-1-ci):
            # column 0 takes the most significant slot of each group.
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * n + (n - 1 - ci),
                )
            )
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files clustered on the
    Z-curve of ``cols``: range-partition + sort on the z-value, then
    drop it — readers see the original schema, but every file's
    min/max stats are tight on every z-ordered column at once. One
    range shuffle, same cost shape as write_sorted_layout."""
    z = zorder_column(df, cols)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
