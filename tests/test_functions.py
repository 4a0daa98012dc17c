"""Unit tests for the pure expression library.

Asserts the exact expectations the reference's own tests pin down
(reference tests/test_report.py:4-16, tests/test_utils.py:4-8) plus the
bin boundaries from FIXTURES.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.functions import (
    aqi_status,
    pm25_category,
    recommendation,
    slugify,
    slugify_ascii,
    token_count,
    weather_code_desc,
    wind_compass,
)


def _vals(spark, data, expr, in_type="double"):
    """Apply a SQL-text rule to column ``v`` over ``data``."""
    df = spark.createDataFrame([(v,) for v in data], f"v {in_type}")
    return [r[0] for r in df.select(F.expr(expr("v")).alias("out")).collect()]


def test_pm25_category_boundaries(spark):
    got = _vals(spark, [10.0, 12.0, 20.0, 35.4, 50.0, 55.4, 100.0, 150.4, 200.0, 250.4, 300.0, None], pm25_category)
    assert got == [
        "Baik", "Baik", "Sedang", "Sedang",
        "Tidak sehat (sensitif)", "Tidak sehat (sensitif)",
        "Tidak sehat", "Tidak sehat",
        "Sangat tidak sehat", "Sangat tidak sehat",
        "Berbahaya", "Tidak diketahui",
    ]


def test_aqi_status_3bin(spark):
    got = _vals(spark, [5.0, 12.0, 30.0, 55.4, 80.0], aqi_status)
    assert got == ["Good", "Good", "Moderate", "Moderate", "Unhealthy"]


def test_weather_code_desc(spark):
    got = _vals(spark, [0, 1, 3, 45, 51, 61, 71, 80, 85, 95, 42], weather_code_desc, "int")
    assert got == [
        "Clear", "Partly cloudy", "Overcast", "Fog", "Drizzle", "Rain",
        "Snow", "Rain showers", "Snow showers", "Thunderstorms", "Unknown",
    ]


def test_wind_compass(spark):
    # reference app.js:187-194: round(deg/22.5) % 16 into 16-point labels
    # 348.75/22.5 = 15.5 → round-half-up 16 → %16 = 0 → "N" (JS Math.round parity);
    # 348.74 → 15.49… → 15 → "NNW"
    got = _vals(spark, [0.0, 11.24, 11.25, 45.0, 90.0, 180.0, 270.0, 348.74, 359.0, 720.0, -90.0], wind_compass)
    assert got == ["N", "N", "NNE", "NE", "E", "S", "W", "NNW", "N", "N", "W"]


def test_slugify_parity(spark):
    # reference tests/test_utils.py:4-8 incl. accents
    df = spark.createDataFrame(
        [("Bandung",), ("New York",), ("A/B",), ("São Paulo",), ("  ",), ("--x--",)],
        "v string",
    )
    got = [r[0] for r in df.select(slugify(F.col("v")).alias("s")).collect()]
    assert got == ["bandung", "new-york", "a-b", "sao-paulo", "city", "x"]
    got_ascii = [r[0] for r in df.select(slugify_ascii(F.col("v")).alias("s")).collect()]
    assert got_ascii[0:3] == ["bandung", "new-york", "a-b"]


def test_recommendation_triggers(spark):
    # reference tests/test_report.py:11-16: (pm25=35→no mask, 60→mask; temp>33→panas; rainy>=3→hujan)
    df = spark.createDataFrame(
        [(60.0, 34.0, 4), (40.0, 30.0, 0), (10.0, 20.0, 0)],
        "pm25 double, tmax double, rainy int",
    )
    got = [
        r[0]
        for r in df.select(F.expr(recommendation("pm25", "tmax", "rainy")).alias("r")).collect()
    ]
    assert "masker" in got[0] and "panas" in got[0] and "hujan" in got[0]
    assert "masker" in got[1] and "panas" not in got[1]
    assert got[2] == "Kondisi cuaca dan udara relatif nyaman."


def test_token_count(spark):
    df = spark.createDataFrame([("a b c",), ("  x   y ",), ("",), ("one",)], "v string")
    got = [r[0] for r in df.select(token_count(F.col("v")).alias("n")).collect()]
    assert got == [3, 2, 0, 1]
