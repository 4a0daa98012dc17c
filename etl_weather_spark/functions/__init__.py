"""Pure expression library (no IO, no UDFs unless unavoidable).

Everything here compiles to Catalyst expressions that run inside
whole-stage codegen — the fast path. The reference implements these as
row-at-a-time Python/JS (transform.py:109 list comprehension,
viz.py:136 Series.apply); here they are declarative ``CASE`` chains and
built-in functions. The threshold rules (``categorize``, ``recommend``)
are SQL text for ``selectExpr``/``F.expr``; the text helpers are Columns.
"""

from etl_weather_spark.functions.categorize import (
    aqi_status,
    pm25_category,
    weather_code_desc,
    wind_compass,
)
from etl_weather_spark.functions.recommend import recommendation
from etl_weather_spark.functions.text import (
    doc_fingerprint,
    slugify,
    slugify_ascii,
    token_count,
)

__all__ = [
    "aqi_status",
    "doc_fingerprint",
    "pm25_category",
    "recommendation",
    "slugify",
    "slugify_ascii",
    "token_count",
    "weather_code_desc",
    "wind_compass",
]
