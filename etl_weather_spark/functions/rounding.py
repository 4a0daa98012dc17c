"""Cross-engine-deterministic rounding.

``F.round``/``ROUND`` disagree between Spark and DuckDB on half-cases:
Spark rounds the exact binary expansion of the double
(BigDecimal(value)), DuckDB rounds its shortest decimal representation —
so avg values landing on x.xx5 hash-mismatch between the engines.

``floor(x*scale + 0.5)/scale`` is pure IEEE-754 arithmetic: both engines
execute the identical multiply/add/floor/divide on the identical input
double and produce the identical output double. Every rounded value in
the query registry uses this form on BOTH the Spark side (these helpers)
and the oracle-SQL side (:func:`sql_round`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def rnd(col: Column | str, decimals: int = 2) -> Column:
    if isinstance(col, str):
        col = F.col(col)
    scale = 10 ** decimals
    return F.floor(col * scale + F.lit(0.5)) / scale


def r1(col: Column) -> Column:
    return rnd(col, 1)


def r2(col: Column) -> Column:
    return rnd(col, 2)


def sql_round(expr: str, decimals: int = 2) -> str:
    """The identical rounding as a SQL text fragment, for oracle queries
    and Spark ``selectExpr``/``F.expr`` builders alike."""
    scale = 10 ** decimals
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


# ---------------------------------------------------------------------------
# Exact (order-independent) sums and averages.
#
# SUM/AVG over doubles is not associative: Spark's partial+final hash
# aggregation sums in a different order than DuckDB's sequential scan, so
# the last bits differ and half-boundary rounding flips. When the input
# values are fixed-point (the test corpus stores 2-decimal values),
# summing through DECIMAL is exact and order-independent on both engines;
# cast back to double at the end so output schemas stay double.
#
# At 100 TB this also removes run-to-run nondeterminism from partial-agg
# ordering — decimal sums make re-runs bitwise reproducible.
# ---------------------------------------------------------------------------


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum via decimal accumulation, returned as double.

    Implementation: round each item to ``scale`` dp as a scaled LONG
    (``floor(x*10^scale + 0.5)``), cast long→decimal(28,0), sum, divide.
    Same value as summing ``decimal(28,scale)`` casts (items that are
    exact ``scale``-dp rationals round identically on both paths, and
    this corpus stores 2-dp fixed-point values / ≤6-dp derived
    rationals), but ~2× faster: a long→decimal cast is compact
    (unscaled-long representation, primitive add fast path) while a
    double→decimal cast is BigDecimal-backed on every row. Overflow
    headroom: per-item |x|·10^scale must fit a long (< 9.2e18); the
    running sum accumulates in decimal(38,0) — safe at 100 TB row
    counts where a plain long sum would wrap.
    """
    if isinstance(col, str):
        col = F.col(col)
    s = 10 ** scale
    return (
        F.sum(F.floor(col * s + F.lit(0.5)).cast("long").cast("decimal(28,0)"))
        .cast("double")
        / s
    )


def davg(col: Column | str, scale: int = 2) -> Column:
    """Exact-numerator average: decimal sum / non-null count, as double."""
    if isinstance(col, str):
        col = F.col(col)
    return dsum(col, scale) / F.count(col)


def sql_dsum(expr: str, scale: int = 2) -> str:
    """Bit-exact SQL mirror of :func:`dsum`.

    Emits the IDENTICAL IEEE-754 operation sequence as the Spark side:
    ``floor(x*10^s + 0.5)`` per item (pure FP multiply/add/floor),
    exact integer sum (DuckDB SUM(BIGINT) accumulates in HUGEINT —
    exact, like Spark's decimal(38,0)), correctly-rounded int→double
    cast, then the same double division. Two engines executing the
    same correctly-rounded ops on the same inputs produce the same
    bits — unlike the previous ``CAST(x AS DECIMAL)`` item route,
    which rounds the double's decimal value by a different path and
    could land 1 ulp away (the round-1 ``global_summary`` hash fail).
    """
    s = 10 ** scale
    return f"(CAST(SUM(CAST(FLOOR(({expr}) * {s} + 0.5) AS BIGINT)) AS DOUBLE) / {s})"


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


def spark_dsum(expr: str, over: str) -> str:
    """:func:`dsum` at scale 2 as Spark SQL text (the same plan at a few
    py4j round trips); ``over`` is a window clause or ``""``."""
    return f"CAST(SUM(CAST(CAST(FLOOR(({expr}) * 100 + 0.5D) AS BIGINT) AS DECIMAL(28,0))) {over} AS DOUBLE) / 100"


def spark_davg(expr: str, over: str) -> str:
    return f"{spark_dsum(expr, over)} / COUNT({expr}) {over}"
