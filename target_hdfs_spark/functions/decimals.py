"""Exact-arithmetic helpers for oracle-checkable aggregates.

Floating-point aggregation order differs between engines (and between
runs, under AQE), so a raw ``SUM(double)`` is not reproducible bit-for-
bit against an external oracle. The engine's convention for checkable
numeric results:

1. cast inputs to DECIMAL(12,4) — exact for the 2-decimal business
   values in the schema, and products of up to three factors stay
   within DECIMAL(38,12) in both Spark and DuckDB, so no rounding ever
   happens mid-expression;
2. aggregate in decimal (exact, order-independent);
3. convert the final value to double THROUGH A STRING — the decimal's
   string rendering is exact and string->double parsing is correctly
   rounded in both engines, so the resulting double is bit-identical.
   (A direct decimal->double cast is NOT safe: DuckDB computes
   int128 / 10^scale in floating point — two roundings — which
   diverges from Spark's single-rounded BigDecimal conversion by
   1 ulp once value*10^scale exceeds 2^53.)

Averages are exact-decimal-sum / count in double at the very end.
This costs one decimal-typed shuffle column instead of a double; at
100 TB the overhead is negligible versus the aggregation itself, and
partial (map-side) aggregation still applies.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(12,4)"


def dec(col: str | Column) -> Column:
    """Cast a 2-decimal business value to the exact working type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def to_double(c: Column) -> Column:
    """Exact-decimal -> double via string (engine-portable rounding)."""
    return c.cast("string").cast("double")


def dsum(col: str | Column) -> Column:
    """Exact decimal sum, returned as double."""
    return to_double(F.sum(dec(col)))


def davg(col: str | Column) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    return to_double(F.sum(dec(col))) / F.count(F.lit(1))
