"""Rule-based recommendation text (reference parity: C3, report.py:28-49).

The reference builds a list of advice strings from threshold triggers and
joins with spaces, falling back to a default. Expressed here as SQL text
(``concat_ws`` over ``CASE`` clauses + ``coalesce(nullif(...))``) built
from ``config`` — a single JVM-side expression; Column callers wrap it in
``F.expr``.
"""

from __future__ import annotations

from etl_weather_spark import config
from etl_weather_spark.functions.categorize import sql_lit


def recommendation(pm25_avg: str, temp_max: str, rainy_days: str) -> str:
    """Concatenate triggered advice strings; default text if none trigger.

    Trigger order matches reference report.py:28-49:
    pm25>55.4 → mask; elif pm25>35.4 → sensitive-mask; temp_max>33 → heat;
    rainy_days>=3 → umbrella.
    """
    mask = (
        f"CASE WHEN {pm25_avg} > {sql_lit(config.SENSITIVE_PM25)} THEN {sql_lit(config.ADVICE_MASK)}"
        f" WHEN {pm25_avg} > {sql_lit(config.MODERATE_PM25)} THEN {sql_lit(config.ADVICE_MASK_SENSITIVE)} END"
    )
    heat = f"CASE WHEN {temp_max} > {sql_lit(config.HOT_DAY_TEMP_C)} THEN {sql_lit(config.ADVICE_HEAT)} END"
    rain = (
        f"CASE WHEN {rainy_days} >= {sql_lit(config.RAINY_DAYS_ADVICE_MIN)}"
        f" THEN {sql_lit(config.ADVICE_RAIN)} END"
    )
    joined = f"concat_ws(' ', {mask}, {heat}, {rain})"
    return f"coalesce(nullif({joined}, ''), {sql_lit(config.ADVICE_DEFAULT)})"
