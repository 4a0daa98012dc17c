"""Categorical/binning rules (reference parity: C2, C8, C9), as SQL text.

Each function takes a SQL expression (usually a column name) and returns a
``CASE`` chain or comparison built from ``config``, for ``selectExpr`` or
``F.expr``: one definition per rule, constant-folded and codegen'd by
Catalyst, zero Python per row, and no py4j round trip to build it.
"""

from __future__ import annotations

from etl_weather_spark import config


def sql_lit(v: float | int | str) -> str:
    """A constant as a SQL literal typed like ``F.lit(v)`` (bare ``12.0`` is DECIMAL)."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        return f"{v!r}D"
    return str(v)


def _bin_chain(
    expr: str,
    bins: list[tuple[float, str]],
    top: str,
    null_label: str | None,
) -> str:
    """Upper-inclusive threshold binning: value <= edge → label."""
    whens = [f"WHEN {expr} IS NULL THEN {sql_lit(null_label)}"] if null_label is not None else []
    whens += [f"WHEN {expr} <= {sql_lit(edge)} THEN {sql_lit(label)}" for edge, label in bins]
    return f"CASE {' '.join(whens)} ELSE {sql_lit(top)} END"


def pm25_category(pm25: str) -> str:
    """PM2.5 µg/m³ → 6 Indonesian AQI categories.

    Parity with reference transform.py:32-48 (null → "Tidak diketahui"
    first, then ≤12 Baik, ≤35.4 Sedang, ≤55.4 Tidak sehat (sensitif),
    ≤150.4 Tidak sehat, ≤250.4 Sangat tidak sehat, else Berbahaya).
    """
    return _bin_chain(pm25, config.PM25_BINS, config.PM25_TOP_CATEGORY, config.PM25_NULL_CATEGORY)


def aqi_status(pm25: str) -> str:
    """3-bin chart status (reference viz.py:126-134): Good/Moderate/Unhealthy."""
    return _bin_chain(pm25, config.AQI_BINS, config.AQI_TOP_CATEGORY, None)


def weather_code_desc(code: str) -> str:
    """WMO weather code → text description (reference app.js:169-185).

    Range-cases as a CASE chain; for a genuinely large decode table this
    would be a broadcast-joined dimension instead.
    """
    whens = " ".join(
        f"WHEN {code} >= {lo} AND {code} <= {hi} THEN {sql_lit(desc)}"
        for lo, hi, desc in config.WMO_CODE_RANGES
    )
    return f"CASE {whens} ELSE {sql_lit(config.WMO_UNKNOWN)} END"


def wind_compass(degrees: str) -> str:
    """Wind direction degrees → 16-point compass label.

    Parity with reference app.js:187-194:
    ``idx = round(((d % 360) + 360) % 360 / 22.5) % 16``.
    Implemented with arithmetic + element_at over a literal array —
    fully JVM-side.
    """
    points = ", ".join(sql_lit(p) for p in config.COMPASS_POINTS)
    idx = f"CAST(round(((({degrees} % 360) + 360) % 360) / 22.5D, 0) AS INT) % 16"
    return f"element_at(array({points}), ({idx}) + 1)"


def is_hot_day(temp_max: str) -> str:
    """temp_max > 33°C (reference report.py:39, app.js:326)."""
    return f"{temp_max} > {sql_lit(config.HOT_DAY_TEMP_C)}"


def is_heavy_rain(total_rain: str) -> str:
    """total_rain > 20mm/day (flag expected by reference app.js:327)."""
    return f"{total_rain} > {sql_lit(config.HEAVY_RAIN_MM)}"


def is_unhealthy_pm25(pm25_avg: str) -> str:
    """pm25_avg > 35.4 (reference app.js:328,644; report.py:36)."""
    return f"{pm25_avg} > {sql_lit(config.UNHEALTHY_PM25)}"
