"""Window/analytic operators (reference parity: W1-W4, A6, A8).

Scale notes: an unpartitioned ``Window.orderBy`` collapses to a single
task — fine for one city's 16-day series, catastrophic at 100 TB.
``trailing_mean`` and ``pct_diff_vs_next`` order one such series (by
``date`` / ``rank``) in a single window; ``centered_mean`` partitions by
``event_type``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from etl_weather_spark.functions.rounding import rnd


def _frame_avg(value_col: str, frame, exact_scale: int | None):
    """avg over a window frame; with exact_scale, decimal-sum / count —
    order-independent and bitwise-reproducible across engines (see
    functions/rounding.py)."""
    if exact_scale is None:
        return F.avg(value_col).over(frame)
    # scaled-long decimal accumulation: same value, compact-decimal fast
    # path (see functions/rounding.dsum)
    sc = 10 ** exact_scale
    scaled = F.floor(F.col(value_col) * sc + F.lit(0.5)).cast("long").cast("decimal(28,0)")
    s = F.sum(scaled).over(frame).cast("double") / sc
    return s / F.count(value_col).over(frame)


def _spec(partition_by: list[str], order_by: str) -> WindowSpec:
    w = Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    return w.orderBy(order_by)


def trailing_mean(
    df: DataFrame,
    value_col: str,
    out_col: str,
    *,
    exact_scale: int | None = None,
) -> DataFrame:
    """7-row trailing moving average over ``date`` with pandas
    ``rolling(7).mean()`` parity.

    Reference viz.py:77 uses pandas' default ``min_periods=window`` —
    the first 6 rows yield null. Spark's ``rowsBetween`` averages
    partial frames, so we gate on the frame row count (SURVEY.md §7.3).
    """
    frame = _spec([], "date").rowsBetween(-6, 0)
    avg = _frame_avg(value_col, frame, exact_scale)
    cnt = F.count(value_col).over(frame)
    return df.withColumn(out_col, F.when(cnt >= 7, rnd(avg, 2)))


def centered_mean(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Centered moving average (reference app.js:859-872, window=3 centered)
    over ``date`` per ``event_type``, decimal-accumulated at scale 2.

    The JS version averages whatever neighbors exist (edges use partial
    windows), so no min_periods gate here.
    """
    frame = _spec(["event_type"], "date").rowsBetween(-1, 1)
    return df.withColumn(out_col, rnd(_frame_avg(value_col, frame, 2), 2))


def minmax_normalize(
    df: DataFrame,
    value_col: str,
    out_col: str,
    *,
    partition_by: list[str],
) -> DataFrame:
    """Per-group min-max normalization, zero-range guarded to 1.

    Reference app.js:851-857: ``(v - min)/(max - min)``, and if
    max == min every value maps to 1.
    """
    w = Window.partitionBy(*partition_by)
    mn = F.min(value_col).over(w)
    mx = F.max(value_col).over(w)
    norm = F.when(mx == mn, F.lit(1.0)).otherwise((F.col(value_col) - mn) / (mx - mn))
    return df.withColumn(out_col, rnd(norm, 4))


def pct_diff_vs_next(df: DataFrame, value_col: str) -> DataFrame:
    """``pct_diff_vs_next``: % difference of each row vs the next row by
    ``rank`` (reference app.js:975-979)."""
    w = Window.partitionBy().orderBy("rank")
    nxt = F.lead(value_col).over(w)
    return df.withColumn(
        "pct_diff_vs_next",
        rnd((F.col(value_col) - nxt) / F.abs(nxt) * 100.0, 1),
    )
