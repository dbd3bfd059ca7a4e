"""Deterministic floating-point aggregation helpers.

Summing doubles is order-dependent: a distributed sum over N partitions and a
single-threaded oracle disagree in the low bits, and any rounding-based
tolerance is a coin flip near cell boundaries. We accumulate exactly instead,
in **fixed point**: scale each term by 10^6, round to a 64-bit integer
(deterministic: the per-row double arithmetic is IEEE-754 identical across
engines), sum the longs exactly, and rescale at the end. The whole aggregate
is then bit-reproducible regardless of partitioning, shuffle order, or AQE
decisions — and it stays on the vectorized long-sum fast path (a
DECIMAL-interior variant measured 15-30× slower: Spark's >18-digit decimals
fall off whole-stage codegen into BigDecimal).

Overflow headroom: with terms |x| <= 10^6 the scaled long is <= 10^12, so a
single group can absorb ~9·10^6 rows per 10^12 of magnitude before wrapping
(long max ≈ 9.2·10^18). That covers the bench scale by orders of magnitude;
for truly unbounded groups at the 100 TB design point use ``dsum_decimal``,
which trades speed for unbounded precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCALE = 1_000_000  # 6 fractional digits


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _fixed(c: Column | str) -> Column:
    return F.round(_col(c) * SCALE).cast("long")


def dsum(c: Column | str) -> Column:
    """Order-independent sum of a double expression (exact fixed-point interior)."""
    return (F.sum(_fixed(c)).cast("double") / SCALE).cast("double")


def davg(c: Column | str) -> Column:
    """Order-independent mean: exact fixed-point sum / count, divided in double."""
    col = _col(c)
    return (F.sum(_fixed(col)).cast("double") / SCALE) / F.count(col)


def dsum_w(c: Column | str, window) -> Column:
    """Windowed order-independent sum (exact fixed-point interior)."""
    return (F.sum(_fixed(c)).over(window).cast("double") / SCALE).cast("double")


def dsum_decimal(c: Column | str) -> Column:
    """Unbounded-precision variant (DECIMAL(25,6) interior): slower, but no
    overflow ceiling. Use for unbounded-cardinality groups at extreme scale."""
    return F.sum(_col(c).cast(T.DecimalType(25, 6))).cast("double")


# DuckDB-side equivalents (used when composing oracle SQL strings).
# DuckDB widens SUM(BIGINT) to HUGEINT (exact int128), hence no wrap on the
# oracle side either; the final double cast matches Spark's.
def sql_dsum(expr: str) -> str:
    return f"(CAST(SUM(CAST(ROUND(({expr}) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)"
