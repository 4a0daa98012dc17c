"""Window/analytic operators (reference parity: W1-W4, A6, A8).

Every operator is one ``selectExpr`` of SQL window text: the Column
API's plan at a few py4j round trips.

Scale notes: an unpartitioned ``OVER (ORDER BY ...)`` collapses to a single
task — fine for one city's 16-day series, catastrophic at 100 TB.
``trailing_mean`` and ``pct_diff_vs_next`` order one such series (by
``date`` / ``rank``) in a single window; ``centered_mean`` partitions by
``event_type``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_weather_spark.functions.rounding import spark_davg, sql_round


def trailing_mean(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """7-row trailing moving average over ``date`` with pandas
    ``rolling(7).mean()`` parity, decimal-accumulated at scale 2
    (order-independent and bitwise-reproducible across engines; see
    functions/rounding.py).

    Reference viz.py:77 uses pandas' default ``min_periods=window`` —
    the first 6 rows yield null. Spark's ``rowsBetween`` averages
    partial frames, so we gate on the frame row count (SURVEY.md §7.3).
    """
    over = "OVER (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    avg = sql_round(spark_davg(value_col, over))
    return df.selectExpr("*", f"CASE WHEN count({value_col}) {over} >= 7 THEN {avg} END AS {out_col}")


def centered_mean(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Centered moving average (reference app.js:859-872, window=3 centered)
    over ``date`` per ``event_type``, decimal-accumulated at scale 2.

    The JS version averages whatever neighbors exist (edges use partial
    windows), so no min_periods gate here.
    """
    over = "OVER (PARTITION BY event_type ORDER BY date ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)"
    return df.selectExpr("*", f"{sql_round(spark_davg(value_col, over))} AS {out_col}")


def minmax_normalize(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Per-``event_type`` min-max normalization, zero-range guarded to 1.

    Reference app.js:851-857: ``(v - min)/(max - min)``, and if
    max == min every value maps to 1.
    """
    mn, mx = (f"{f}({value_col}) OVER (PARTITION BY event_type)" for f in ("min", "max"))
    norm = f"CASE WHEN {mx} = {mn} THEN 1.0D ELSE ({value_col} - {mn}) / ({mx} - {mn}) END"
    return df.selectExpr("*", f"{sql_round(norm, 4)} AS {out_col}")


def pct_diff_vs_next(df: DataFrame, value_col: str) -> DataFrame:
    """``pct_diff_vs_next``: % difference of each row vs the next row by
    ``rank`` (reference app.js:975-979)."""
    nxt = f"lead({value_col}) OVER (ORDER BY `rank`)"
    diff = f"({value_col} - {nxt}) / abs({nxt}) * 100.0D"
    return df.selectExpr("*", f"{sql_round(diff, 1)} AS pct_diff_vs_next")
