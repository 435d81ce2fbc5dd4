"""Decimal-stable money math.

Double-precision aggregation is order-dependent, and Spark's partition
ordering is non-deterministic — so ``SUM(double)`` can differ run-to-run
and engine-to-engine in the last few ulps. Every money aggregate in this
engine therefore goes through fixed-point decimals: cast the (at most
2-decimal) synthetic prices/rates to DECIMAL before arithmetic, SUM the
exact decimals, cast the final result back to DOUBLE. Decimal add/mul
are exact in both Spark and DuckDB as long as precision stays <= 38, so
Spark results are bitwise-identical to the DuckDB oracle.

Precision audit for the widest expression used (TPC-H Q1 charge):
  price DECIMAL(14,2) * (1-disc) DECIMAL(5,2) -> DECIMAL(20,4)
  ... * (1+tax) DECIMAL(5,2)                  -> DECIMAL(26,6)   (< 38, exact)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, precision: int = 14, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def one_minus(rate_col: str) -> Column:
    """(1 - rate) as DECIMAL(5,2); rates in the data are 2-decimal."""
    return F.lit(1).cast("decimal(4,2)") - dec(rate_col, 4, 2)


def one_plus(rate_col: str) -> Column:
    return F.lit(1).cast("decimal(4,2)") + dec(rate_col, 4, 2)


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal SUM surfaced as DOUBLE."""
    return F.sum(col).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Average as exact-decimal SUM divided by COUNT, in double.

    Division of two identical doubles/longs is deterministic across
    engines, unlike AVG(double)'s order-dependent accumulation.
    """
    return (F.sum(col).cast("double") / F.count(F.lit(1))).alias(alias)
