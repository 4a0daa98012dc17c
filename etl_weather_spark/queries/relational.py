"""Relational tier: TPC-shaped join/agg/window queries over the star schema plus the events-table weather-spine parity rows (SURVEY.md §2 P/F/J/A/W/O/U/C/V families).

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from etl_weather_spark.functions.categorize import (
    is_heavy_rain,
    is_hot_day,
    is_unhealthy_pm25,
    pm25_category,
    weather_code_desc,
    wind_compass,
)
from etl_weather_spark.functions.recommend import recommendation
from etl_weather_spark.functions.rounding import (
    davg,
    dsum,
    rnd,
    spark_davg,
    spark_dsum,
    sql_davg,
    sql_dsum,
    sql_round,
)
from etl_weather_spark.functions.text import slugify_ascii
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.operators.joins import asof_join_union
from etl_weather_spark.operators.windows import (
    centered_mean,
    minmax_normalize,
    pct_diff_vs_next,
    trailing_mean,
)
from etl_weather_spark.queries._registry import load, query


#: the exact 2-dp average of events.value, Spark SQL text
_VALUE_AVG = sql_round(spark_davg("value", ""))

#: the daily table's aggregates of events.value, Spark SQL text; the
#: streaming daily (streaming/daily_stream.py) groups the same ones
DAILY_AGGS = (
    f"{sql_round('min(value)')} AS vmin",
    f"{sql_round('max(value)')} AS vmax",
    sql_round("coalesce(" + spark_dsum("value", "") + ", 0.0D)") + " AS vsum",
    f"{_VALUE_AVG} AS vavg",
    "count(1) AS n",
)


def _events_by(ev: DataFrame, keep: str, key: str, *aggs: str) -> DataFrame:
    """``aggs`` per ``key`` over the events rows ``keep`` keeps (SQL text)."""
    return ev.filter(keep).groupBy(F.expr(key)).agg(*map(F.expr, aggs))


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared daily aggregate over events: the weather daily-table analog.

    Scale: hash agg with map-side partials; shuffle carries one row per
    (date) per mapper. Timestamp→date is codegen'd; the parquet scan
    prunes to (ts, value).
    """
    return load(spark, sf_dir, "events").groupBy(F.expr("to_date(ts) AS date")).agg(
        *map(F.expr, DAILY_AGGS)
    )

_DAILY_SQL = """
SELECT CAST(ts AS DATE) AS date,
       FLOOR((MIN(value)) * 100 + 0.5) / 100 AS vmin,
       FLOOR((MAX(value)) * 100 + 0.5) / 100 AS vmax,
       FLOOR((COALESCE((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100), 0.0)) * 100 + 0.5) / 100 AS vsum,
       FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS vavg,
       COUNT(*) AS n
FROM events
GROUP BY CAST(ts AS DATE)
"""

#: A4 count_if rainy days over the daily table, Spark SQL text
_RAINY_DAYS = "sum(CASE WHEN vsum > 0 THEN 1 ELSE 0 END)"

@query("daily_agg", _DAILY_SQL)
def daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by-day multi-agg with named outputs (transform.py:89-100)."""
    return _daily(spark, sf_dir)

@query(
    "daily_flags",
    f"""
WITH daily AS ({_DAILY_SQL})
SELECT date, vmin, vmax, vsum, vavg, n,
       CASE WHEN vavg IS NULL THEN 'Tidak diketahui'
            WHEN vavg <= 12.0 THEN 'Baik'
            WHEN vavg <= 35.4 THEN 'Sedang'
            WHEN vavg <= 55.4 THEN 'Tidak sehat (sensitif)'
            WHEN vavg <= 150.4 THEN 'Tidak sehat'
            WHEN vavg <= 250.4 THEN 'Sangat tidak sehat'
            ELSE 'Berbahaya' END AS category,
       (vmax > 33.0) AS is_hot_day,
       (vsum > 20.0) AS is_heavy_rain,
       (vavg > 35.4) AS is_unhealthy
FROM daily
""",
)
def daily_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 binning + derived boolean flags (transform.py:32-48, app.js:326-328)."""
    d = _daily(spark, sf_dir)
    return d.selectExpr(
        "*",
        f"{pm25_category('vavg')} AS category",
        f"{is_hot_day('vmax')} AS is_hot_day",
        f"{is_heavy_rain('vsum')} AS is_heavy_rain",
        f"{is_unhealthy_pm25('vavg')} AS is_unhealthy",
    )

@query(
    "hourly_outer_join",
    """
WITH w AS (
  SELECT date_trunc('hour', ts) AS hour, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS wavg, COUNT(*) AS wn
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
), a AS (
  SELECT date_trunc('hour', ts) AS hour, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS aavg, COUNT(*) AS an
  FROM events WHERE event_type IN ('error', 'purchase') GROUP BY 1
)
SELECT COALESCE(w.hour, a.hour) AS hour, w.wavg, w.wn, a.aavg, a.an
FROM w FULL OUTER JOIN a ON w.hour = a.hour
""",
)
def hourly_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: full-outer equi-join of two hourly sources on time (transform.py:77).

    Scale: both sides aggregate before the join (shuffle carries hourly
    rows, not raw events); the join keys on the hour bucket so AQE can
    coalesce post-shuffle partitions.
    """
    ev = load(spark, sf_dir, "events")
    hour = "date_trunc('hour', ts) AS hour"
    w = _events_by(ev, "event_type IN ('view', 'click')", hour, f"{_VALUE_AVG} AS wavg", "count(1) AS wn")
    a = _events_by(ev, "event_type IN ('error', 'purchase')", hour, f"{_VALUE_AVG} AS aavg", "count(1) AS an")
    return w.join(a, on="hour", how="outer")

@query(
    "global_summary",
    f"""
WITH daily AS ({_DAILY_SQL}),
s AS (
  SELECT FLOOR((MIN(vmin)) * 100 + 0.5) / 100 AS period_min,
         FLOOR((MAX(vmax)) * 100 + 0.5) / 100 AS period_max,
         FLOOR(((CAST(SUM(CAST(FLOOR(((vavg)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(vavg)) * 100 + 0.5) / 100 AS period_avg,
         CAST(SUM(CASE WHEN vsum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rainy_days,
         COUNT(*) AS n_days
  FROM daily
),
w AS (
  SELECT date AS wettest_date, vsum AS wettest_sum
  FROM daily ORDER BY vsum DESC, date LIMIT 1
)
SELECT s.*, w.wettest_date, w.wettest_sum FROM s CROSS JOIN w
""",
)
def global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-A5: grand aggregates, count_if, max_by argmax (report.py:81-106)."""
    d = _daily(spark, sf_dir)
    s = d.agg(
        F.expr(f"{sql_round('min(vmin)')} AS period_min"),
        F.expr(f"{sql_round('max(vmax)')} AS period_max"),
        F.expr(f"{sql_round(spark_davg('vavg', ''))} AS period_avg"),
        F.expr(f"{_RAINY_DAYS} AS rainy_days"),
        F.expr("count(1) AS n_days"),
    )
    # wettest day via deterministic top-1 (vsum desc, date) instead of
    # max_by, whose tie-breaking is engine-defined (A5 parity with a
    # total order; max_by itself is exercised in pipeline.summary_from_daily)
    w = (
        d.selectExpr("date AS wettest_date", "vsum AS wettest_sum")
        .orderBy("wettest_sum", "wettest_date", ascending=[False, True])
        .limit(1)
    )
    return s.crossJoin(w)

@query(
    "recommendation_text",
    f"""
WITH daily AS ({_DAILY_SQL}),
s AS (
  SELECT FLOOR(((CAST(SUM(CAST(FLOOR(((vavg)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(vavg)) * 100 + 0.5) / 100 AS period_avg, FLOOR((MAX(vmax)) * 100 + 0.5) / 100 AS period_max,
         CAST(SUM(CASE WHEN vsum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rainy_days
  FROM daily
)
SELECT period_avg, period_max, rainy_days,
       COALESCE(NULLIF(CONCAT_WS(' ',
         CASE WHEN period_avg > 55.4 THEN 'Kualitas udara buruk, gunakan masker saat keluar.'
              WHEN period_avg > 35.4 THEN 'Udara kurang baik untuk kelompok sensitif, pertimbangkan masker.'
              END,
         CASE WHEN period_max > 33.0 THEN 'Cuaca panas, minum air yang cukup.' END,
         CASE WHEN rainy_days >= 3 THEN 'Sering hujan, siapkan payung.' END), ''),
         'Kondisi cuaca dan udara relatif nyaman.') AS recommendation
FROM s
""",
)
def recommendation_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: threshold-triggered advice concat with default (report.py:28-49)."""
    s = _daily(spark, sf_dir).agg(
        F.expr(f"{sql_round(spark_davg('vavg', ''))} AS period_avg"),
        F.expr(f"{sql_round('max(vmax)')} AS period_max"),
        F.expr(f"{_RAINY_DAYS} AS rainy_days"),
    )
    rec = recommendation("period_avg", "period_max", "rainy_days")
    return s.selectExpr("*", f"{rec} AS recommendation")

@query(
    "rolling_avg_7d",
    f"""
WITH daily AS ({_DAILY_SQL})
SELECT date, vsum,
       CASE WHEN COUNT(vsum) OVER w >= 7
            THEN FLOOR(((CAST(SUM(CAST(FLOOR((vsum) * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100)
                        / COUNT(vsum) OVER w) * 100 + 0.5) / 100 END AS ma7
FROM daily
WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def rolling_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: trailing 7-day MA with pandas min_periods parity (viz.py:77).

    First 6 rows are null, matching pandas rolling(7).mean() defaults.
    Scale: the daily series is one row per day — tiny post-agg; on a
    per-city table this window is partitioned by city.
    """
    return trailing_mean(_daily(spark, sf_dir).select("date", "vsum"), "vsum", "ma7")

def _et_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, date) exact average of events.value."""
    return load(spark, sf_dir, "events").groupBy(
        "event_type", F.expr("to_date(ts) AS date")
    ).agg(F.expr(f"{_VALUE_AVG} AS vavg"))

@query(
    "centered_ma3",
    f"""
WITH et_daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS vavg
  FROM events GROUP BY 1, 2
)
SELECT event_type, date, vavg,
       FLOOR(((CAST(SUM(CAST(FLOOR((vavg) * 100 + 0.5) AS BIGINT)) OVER win AS DOUBLE) / 100)
               / COUNT(vavg) OVER win) * 100 + 0.5) / 100 AS ma3
FROM et_daily
WINDOW win AS (PARTITION BY event_type ORDER BY date ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
""",
)
def centered_ma3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: centered window=3 smoothing per series (app.js:859-872)."""
    return centered_mean(_et_daily(spark, sf_dir), "vavg", "ma3")

@query(
    "minmax_norm",
    f"""
WITH et_daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS vavg
  FROM events GROUP BY 1, 2
)
SELECT event_type, date, vavg,
       FLOOR((CASE WHEN MAX(vavg) OVER w = MIN(vavg) OVER w THEN 1.0
             ELSE (vavg - MIN(vavg) OVER w) / (MAX(vavg) OVER w - MIN(vavg) OVER w)
             END) * 10000 + 0.5) / 10000 AS vnorm
FROM et_daily
WINDOW w AS (PARTITION BY event_type)
""",
)
def minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: per-group min-max normalization, zero-range→1 (app.js:851-857)."""
    return minmax_normalize(_et_daily(spark, sf_dir), "vavg", "vnorm")

@query(
    "rank_pct_diff",
    """
WITH s AS (
  SELECT event_type, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS avg_value, FLOOR((MAX(value)) * 100 + 0.5) / 100 AS max_value
  FROM events GROUP BY event_type
), r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY avg_value DESC, event_type) AS rank
  FROM s
)
SELECT event_type, avg_value, max_value, rank,
       FLOOR(((avg_value - LEAD(avg_value) OVER (ORDER BY rank))
             / ABS(LEAD(avg_value) OVER (ORDER BY rank)) * 100.0) * 10 + 0.5) / 10 AS pct_diff_vs_next
FROM r
""",
)
def rank_pct_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+W4+A8: per-key summary, ranking, % diff vs next (app.js:874-883,975-986).

    Scale: ranking runs on the *aggregated* table (one row per key), so
    the unpartitioned window sees #keys rows, not raw data.
    """
    s = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.expr(f"{_VALUE_AVG} AS avg_value"),
        F.expr(f"{sql_round('max(value)')} AS max_value"),
    )
    # deterministic tie-break on event_type to match the oracle exactly
    ranked = s.selectExpr("*", "row_number() OVER (ORDER BY avg_value DESC, event_type) AS `rank`")
    return pct_diff_vs_next(ranked, "avg_value")

@query(
    "top5_days",
    f"""
WITH daily AS ({_DAILY_SQL})
SELECT date, vsum FROM daily
ORDER BY vsum DESC, date
LIMIT 5
""",
)
def top5_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O6: top-k by metric with total tie-break order.

    Spark plans TakeOrderedAndProject — no global sort materialization.
    """
    return _daily(spark, sf_dir).select("date", "vsum").orderBy(
        "vsum", "date", ascending=[False, True]
    ).limit(5)

@query(
    "unpivot_daily",
    f"""
WITH daily AS ({_DAILY_SQL})
SELECT date, 'vmin' AS metric, vmin AS value FROM daily
UNION ALL
SELECT date, 'vmax' AS metric, vmax AS value FROM daily
""",
)
def unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V2: wide→long unpivot for multi-series charts (app.js:478,928-947)."""
    return _daily(spark, sf_dir).unpivot(
        ids=["date"], values=["vmin", "vmax"], variableColumnName="metric", valueColumnName="value"
    )

@query(
    "asof_join",
    """
SELECT p.event_id, p.user_id, p.ts, FLOOR((p.value) * 100 + 0.5) / 100 AS purchase_value,
       FLOOR((c.value) * 100 + 0.5) / 100 AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: backward as-of join — each purchase gets the user's latest
    click value at or before its timestamp (app.js:755-761 generalized).

    Implementation: union+window carry-forward (operators/joins.py) —
    one shuffle on user_id, no pairwise explosion; survives 100 TB
    because the window partitions by the entity key.
    """
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", rnd("value", 2).alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value")
    )
    joined = asof_join_union(
        purchases, clicks, on="ts", by=["user_id"], value_cols=["value"]
    )
    return joined.select(
        "event_id", "user_id", "ts", "purchase_value", rnd("value_asof", 2).alias("value_asof")
    )

@query(
    "slugify_parts",
    """
SELECT p_partkey,
       CASE WHEN s = '' THEN 'city' ELSE s END AS slug
FROM (
  SELECT p_partkey,
         regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS s
  FROM part
)
""",
)
def slugify_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: slugify over part names (utils.py:348-353). ASCII fast path —
    the Unicode NFKD variant is the Pandas-UDF ``slugify`` (tested in
    tests/test_functions.py)."""
    p = load(spark, sf_dir, "part")
    return p.select("p_partkey", slugify_ascii(F.col("p_name")).alias("slug"))

@query(
    "weather_code_decode",
    """
SELECT code, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN k = 0 THEN 'Clear'
    WHEN k BETWEEN 1 AND 2 THEN 'Partly cloudy'
    WHEN k = 3 THEN 'Overcast'
    WHEN k BETWEEN 45 AND 48 THEN 'Fog'
    WHEN k BETWEEN 51 AND 57 THEN 'Drizzle'
    WHEN k BETWEEN 61 AND 67 THEN 'Rain'
    WHEN k BETWEEN 71 AND 77 THEN 'Snow'
    WHEN k BETWEEN 80 AND 82 THEN 'Rain showers'
    WHEN k BETWEEN 85 AND 86 THEN 'Snow showers'
    WHEN k BETWEEN 95 AND 99 THEN 'Thunderstorms'
    ELSE 'Unknown' END AS code
  FROM (SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k FROM events)
)
GROUP BY code
""",
)
def weather_code_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8+C13: tolerant JSON extraction (get_json_object) + WMO decode
    when-chain (app.js:169-185), aggregated to category counts."""
    ev = load(spark, sf_dir, "events")
    k = "CAST(get_json_object(props, '$.k') AS INT)"
    return (
        ev.selectExpr(f"{weather_code_desc(k)} AS code")
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(
    "wind_compass_bins",
    """
SELECT compass, COUNT(*) AS n FROM (
  SELECT (['N','NNE','NE','ENE','E','ESE','SE','SSE','S','SSW','SW','WSW','W','WNW','NW','NNW'])
         [(CAST(FLOOR((((value % 360) + 360) % 360 / 22.5) * 1 + 0.5) / 1 AS INT) % 16) + 1] AS compass
  FROM events
)
GROUP BY compass
""",
)
def wind_compass_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: degrees → 16-point compass label (app.js:187-194), as counts."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.selectExpr(f"{wind_compass('value')} AS compass")
        .groupBy("compass")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(
    "json_extract_props",
    """
SELECT event_type,
       FLOOR((AVG(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT))) * 100 + 0.5) / 100 AS k_avg,
       MAX(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)) AS k_max
FROM events
GROUP BY event_type
""",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: JSON path extraction over a string column, then aggregate."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        rnd(F.avg(k), 2).alias("k_avg"), F.max(k).alias("k_max")
    )

@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)) * 100 + 0.5) / 100 AS sum_qty,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)) * 100 + 0.5) / 100 AS sum_base_price,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS sum_disc_price,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS sum_charge,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(l_quantity)) * 100 + 0.5) / 100 AS avg_qty,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
       FLOOR(((CAST(SUM(CAST(FLOOR((l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan→filter→hash-agg.

    Scale: filter pushes to the parquet scan (PushedFilters on
    l_shipdate); the agg is map-side partial over 6 groups — shuffle is
    O(#groups × #mappers).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(dsum("l_quantity"), 2).alias("sum_qty"),
            rnd(dsum("l_extendedprice"), 2).alias("sum_base_price"),
            rnd(dsum(disc_price, 6), 2).alias("sum_disc_price"),
            rnd(dsum(disc_price * (1 + F.col("l_tax")), 6), 2).alias("sum_charge"),
            rnd(davg("l_quantity"), 2).alias("avg_qty"),
            rnd(davg("l_extendedprice"), 2).alias("avg_price"),
            rnd(davg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )

@query(
    "top_revenue_orders",
    """
SELECT o.o_orderkey, o.o_orderdate,
       FLOOR(((CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → join → agg → top-k.

    Scale: customer (filtered) broadcasts; lineitem↔orders is the only
    shuffle join; top-k is TakeOrderedAndProject (no global sort).
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(rnd(dsum(rev, 6), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )

@query(
    "revenue_by_nation",
    """
SELECT n.n_name,
       FLOOR(((CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS revenue,
       COUNT(*) AS n_lineitems
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: broadcast the dimension chain, shuffle
    only the fact-fact join.

    Scale: region/nation/customer are broadcast (dims); orders↔lineitem
    is the single shuffle join on orderkey; the final agg groups on 25
    nations — map-side partials collapse it.
    """
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = F.broadcast(
        c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
            r, n["n_regionkey"] == r["r_regionkey"]
        )
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(dims, o["o_custkey"] == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            rnd(dsum(rev, 6), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )

@query(
    "daily_left_join",
    """
WITH dw AS (
  SELECT CAST(ts AS DATE) AS date, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS wavg
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
), da AS (
  SELECT CAST(ts AS DATE) AS date, FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(value)) * 100 + 0.5) / 100 AS aavg
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT dw.date, dw.wavg, da.aavg
FROM dw LEFT JOIN da ON dw.date = da.date
""",
)
def daily_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: daily weather ⟕ daily air averages on date (web.py:506)."""
    ev = load(spark, sf_dir, "events")
    day = "to_date(ts) AS date"
    dw = _events_by(ev, "event_type IN ('view', 'click')", day, f"{_VALUE_AVG} AS wavg")
    da = _events_by(ev, "event_type = 'error'", day, f"{_VALUE_AVG} AS aavg")
    return dw.join(da, on="date", how="left")

@query(
    "semi_anti_customers",
    """
SELECT 'with_orders' AS kind, COUNT(*) AS n
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'without_orders' AS kind, COUNT(*) AS n
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins (free Spark ops the reference lacks —
    SURVEY §2.5 note)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "leftsemi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_orders").alias("kind"), "n")
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "leftanti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("kind"), "n")
    return semi.unionByName(anti)

@query(
    "status_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       FLOOR(((CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)) * 100 + 0.5) / 100 AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total) — native Spark
    rollup, absent from the reference but free (SURVEY §2.6 note)."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(dsum("o_totalprice"), 2).alias("total"),
    )

@query(
    "distinct_daily_users",
    """
SELECT CAST(ts AS DATE) AS date,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(*) AS n_events
FROM events
GROUP BY CAST(ts AS DATE)
""",
)
def distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (U2-adjacent); approx_count_distinct is the
    100 TB variant (exercised rows-only in tests to avoid cross-engine
    sketch mismatch)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )

@query(
    "nearest_event",
    """
SELECT event_id, ts, event_type,
       FLOOR((value) * 100 + 0.5) / 100 AS value
FROM events
ORDER BY ABS(EPOCH(ts) - EPOCH(TIMESTAMP '2024-01-15 12:00:00')), event_id
LIMIT 1
""",
)
def nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: top-1 nearest-timestamp row for a fixed 'now' (app.js:755-761;
    wall-clock parameterized out for determinism, SURVEY §7.3)."""
    ev = load(spark, sf_dir, "events")
    delta = F.abs(
        F.col("ts").cast("double")
        - F.lit("2024-01-15 12:00:00").cast("timestamp").cast("double")
    )
    return (
        ev.select("event_id", "ts", "event_type", rnd("value", 2).alias("value"))
        .orderBy(delta, "event_id")
        .limit(1)
    )

@query(
    "next_events",
    """
SELECT event_id, ts, FLOOR((value) * 100 + 0.5) / 100 AS value
FROM events
WHERE ts >= TIMESTAMP '2024-01-15 12:00:00'
ORDER BY ts, event_id
LIMIT 6
""",
)
def next_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+O5: next-6 rows at/after a fixed 'now' (app.js:800-801)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") >= F.lit("2024-01-15 12:00:00").cast("timestamp"))
        .select("event_id", "ts", rnd("value", 2).alias("value"))
        .orderBy("ts", "event_id")
        .limit(6)
    )

@query(
    "hour_labels",
    """
SELECT (((EXTRACT(hour FROM ts) + 11) % 12) + 1)
       || ' ' || (CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 'am' ELSE 'pm' END) AS hour_label,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
)
def hour_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: 12-hour clock labels ('1 am', '4 pm'; app.js:160-166) —
    date_format in Spark, arithmetic mirror in the oracle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.lower(F.date_format("ts", "h a")).alias("hour_label"))
        .groupBy("hour_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(
    "split_part_types",
    """
SELECT tok, COUNT(*) AS n FROM (
  SELECT trim(UNNEST(string_split(p_type, ' '))) AS tok FROM part
)
WHERE length(tok) > 0
GROUP BY tok
""",
)
def split_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11+D4: string split → explode (table-function surface) → trim →
    non-empty filter (web.py:520, app.js:1002) → token counts."""
    p = load(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_type", " ")).alias("raw"))
        .select(F.trim("raw").alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(
    "regex_customer_ids",
    """
SELECT c_name,
       CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_id,
       regexp_replace(c_name, '^Customer#0*', '') AS short_id
FROM customer
""",
)
def regex_customer_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: regex extraction + prefix strip (app.js:100,418-421, web.py:89-90)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_name",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("long").alias("name_id"),
        F.regexp_replace("c_name", r"^Customer#0*", "").alias("short_id"),
    )

@query(
    "sorted_nations",
    """
SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_name) AS pos
FROM nation
""",
)
def sorted_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: lexicographic sort with stable positions (app.js:45,91;
    binary collation on both engines)."""
    n = load(spark, sf_dir, "nation")
    w = Window.orderBy("n_name")
    return n.select("n_name").withColumn("pos", F.row_number().over(w))

@query(
    "today_lookup",
    f"""
WITH daily AS ({_DAILY_SQL}),
hit AS (
  SELECT *, 0 AS pref FROM daily WHERE date = DATE '2024-01-15'
),
fallback AS (
  SELECT *, 1 AS pref FROM daily ORDER BY date LIMIT 1
)
SELECT date, vmin, vmax, vsum, vavg, n
FROM (SELECT * FROM hit UNION ALL SELECT * FROM fallback)
ORDER BY pref LIMIT 1
""",
)
def today_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: key lookup by date with first-row fallback (app.js:764-765;
    'today' parameterized to a fixed date for determinism)."""
    d = _daily(spark, sf_dir)
    hit = d.filter("date = CAST('2024-01-15' AS DATE)").selectExpr("*", "0 AS pref")
    fallback = d.orderBy("date").limit(1).selectExpr("*", "1 AS pref")
    return (
        hit.unionByName(fallback)
        .orderBy("pref")
        .limit(1)
        .select("date", "vmin", "vmax", "vsum", "vavg", "n")
    )

@query(
    "format_dates",
    """
SELECT strftime(o_orderdate, '%Y%m%dT%H%M%S') AS file_tag,
       strftime(o_orderdate, '%Y-%m-%d') AS day_label,
       COUNT(*) AS n
FROM orders
WHERE o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
GROUP BY 1, 2
""",
)
def format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: timestamp formatting — the reference's file tags
    (fetch.py:101, '%Y%m%dT%H%M%S') and tooltip dates (viz.py:36)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp"))
        .select(
            F.date_format("o_orderdate", "yyyyMMdd'T'HHmmss").alias("file_tag"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day_label"),
        )
        .groupBy("file_tag", "day_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )

@query(
    "approx_stats",
    """
SELECT event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS users_ok,
       TRUE AS p50_ok,
       TRUE AS p99_ok
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB interactive profiling:
    approx_count_distinct (HyperLogLog++) and approx_percentile
    (KLL-style), error-bounded against exact aggregates in the same
    single pass.

    Sketch estimates are engine-specific, so the oracle checks bounds:
    exact n / distinct-count both engines compute, plus booleans
    asserting the sketch landed inside its tolerance (HLL within 15%
    relative — measured ≤6.7% at sf0.1; percentile estimates inside
    the exact [p40,p60] / [p95,max] brackets). A sketch going wild
    flips a boolean and fails the driver hash.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("au"),
            F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("ap50"),
            F.approx_percentile("value", F.lit(0.99), F.lit(1000)).alias("ap99"),
            F.expr("percentile(value, 0.4)").alias("ep40"),
            F.expr("percentile(value, 0.6)").alias("ep60"),
            F.expr("percentile(value, 0.95)").alias("ep95"),
            F.max("value").alias("vmax"),
        )
        .select(
            "event_type",
            "n",
            "exact_users",
            (
                F.abs(F.col("au") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users")
            ).alias("users_ok"),
            F.col("ap50").between(F.col("ep40"), F.col("ep60")).alias("p50_ok"),
            F.col("ap99").between(F.col("ep95"), F.col("vmax")).alias("p99_ok"),
        )
        .orderBy("event_type")
    )

@query(
    "price_qty_correlation",
    """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sx,
         CAST(SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sy,
         CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sxx,
         CAST(SUM(CAST(FLOOR((l_extendedprice * l_extendedprice) * 10 + 0.5) AS BIGINT)) AS DOUBLE) / 10 AS syy,
         CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       FLOOR(((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1000000 + 0.5) / 1000000 AS corr_qty_price
FROM m
ORDER BY l_returnflag
""",
)
def price_qty_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (quantity vs extended price per return
    flag) from exact decimal moment sums — the distributed-statistics
    pattern that stays bit-reproducible.

    ``F.corr`` (Welford-style streaming covariance) accumulates in
    partition order, so its last bits vary run to run and cannot
    hash-match another engine. Instead the five moments are summed
    exactly (items floor-scaled to integers — quantities are integral,
    prices 2-dp; squared prices floor at 1dp so the per-item scaled
    value stays under int64 — then decimal-38 accumulation), and the
    correlation is assembled in ONE deterministic double expression
    identical on both engines. Same dsum discipline as
    functions/rounding.py, extended to second moments.

    Scale: one partial-agg pass, six longs per group per mapper
    through the shuffle; no second pass, no driver math.
    """
    l = load(spark, sf_dir, "lineitem")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", 2).alias("sx"),
        dsum("l_extendedprice", 2).alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), 2).alias("sxx"),
        dsum(F.col("l_extendedprice") * F.col("l_extendedprice"), 1).alias("syy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice"), 2).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag", "n", rnd(corr, 6).alias("corr_qty_price")
    ).orderBy("l_returnflag")

@query(
    "forecast_revenue",
    f"""
SELECT {sql_round(sql_dsum('l_extendedprice * l_discount', 4), 2)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: the pure pushdown benchmark — filter-heavy scan,
    single-group agg, zero shuffle rows beyond one partial per mapper.

    Scale: all three predicates push to the parquet scan (PushedFilters
    on shipdate/discount/quantity); at 100 TB this is the query where
    row-group statistics skip most of the file.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )

@query(
    "priority_order_counts",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS → left-semi join, then tiny agg.

    Scale: the semi join shuffles only (orderkey) pairs and
    short-circuits per probe match; the 5-group agg collapses map-side.
    """
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )

@query(
    "returned_item_report",
    f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {sql_round(sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6), 2)} AS revenue
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: who returned the most revenue last year.

    Scale: nation broadcasts; orders is date-filtered before the
    lineitem join (filter above the join pushes through); final top-20
    is TakeOrderedAndProject — no global sort of the agg output.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rnd(dsum(rev, 6), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )

@query(
    "promo_revenue_share",
    f"""
SELECT {sql_round(
        "100.0 * "
        + sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 6)
        + " / " + sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6), 4)} AS promo_share,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: conditional revenue share over a broadcast join.

    Scale: part is a dimension → broadcast hash join, no shuffle of the
    (date-pruned) lineitem side; both sums ride one aggregation pass.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .agg(
            rnd(F.lit(100.0) * dsum(promo_rev, 6) / dsum(rev, 6), 4).alias(
                "promo_share"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )

@query(
    "large_volume_customers",
    f"""
WITH big AS (
  SELECT l_orderkey, {sql_dsum('l_quantity', 2)} AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity', 2)} > 300
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: agg → HAVING filter → join back to dims.

    Scale: the heavy lineitem agg happens FIRST (map-side partials on
    orderkey), so the joins see only the few surviving order keys; the
    shrunken big-order set broadcasts into orders.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )

@query(
    "brand_filter_revenue",
    f"""
SELECT {sql_round(sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6), 2)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def brand_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: compound OR-of-ANDs predicate across both join
    sides.

    Scale: part is broadcast; Catalyst splits the OR into a residual
    join filter while the common conjuncts (quantity bounds, brand IN)
    still prune the scans.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    q_ = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & q_.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q_.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & q_.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(cond).agg(
        rnd(dsum(rev, 6), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )

@query(
    "top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey,
         {sql_round(sql_dsum('l_extendedprice * (1 - l_discount)', 6), 2)} AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_rev
FROM rev
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
ORDER BY rev.total_rev DESC, s.s_suppkey
LIMIT 1
""",
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: windowed revenue per supplier, argmax supplier.

    Scale: agg on suppkey first (small output), broadcast it into the
    supplier dim; top-1 with a suppkey tie-break is deterministic.
    """
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = l.groupBy("l_suppkey").agg(rnd(dsum(rev, 6), 2).alias("total_rev"))
    return (
        s.join(F.broadcast(per_supp), s["s_suppkey"] == per_supp["l_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy(F.col("total_rev").desc(), F.col("s_suppkey"))
        .limit(1)
    )

@query(
    "dormant_customers",
    f"""
WITH cutoff AS (
  SELECT {sql_davg('c_acctbal')} AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name, COUNT(*) AS n_cust,
       {sql_round(sql_dsum('c.c_acctbal', 2), 2)} AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (SELECT avg_bal FROM cutoff)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar-subquery threshold + NOT EXISTS anti
    join — rich customers with no recent orders, by nation.

    Scale: the scalar avg is a 1-row aggregate broadcast-cross-joined
    into the filter — fully lazy, one Spark job, no driver collect; the
    anti join shuffles only (custkey) pairs of the date-pruned orders
    side; nation broadcasts.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o_recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    # scalar threshold: decimal-exact avg so the > comparison cannot
    # flip between engines on accumulation order; rides as a broadcast
    # 1-row cross join (same pattern as important_parts) so the plan
    # stays a single lazy job
    cutoff = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_recent, c["c_custkey"] == o_recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            rnd(dsum("c_acctbal", 2), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )

@query(
    "cohort_retention",
    """
WITH firsts AS (
  SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events
),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY 1),
joined AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT) AS week_offset,
         a.user_id
  FROM firsts f JOIN activity a ON a.user_id = f.user_id
)
SELECT j.cohort_week, j.week_offset,
       CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       FLOOR((CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / s.cohort_size) * 1000000 + 0.5) / 1000000 AS retention
FROM joined j JOIN sizes s ON s.cohort_week = j.cohort_week
GROUP BY j.cohort_week, j.week_offset, s.cohort_size
ORDER BY j.cohort_week, j.week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users bucketed by first-active
    week, per (cohort, weeks-since-first) distinct-active counts and
    retention rate — the canonical product-analytics rollup (and the
    training-data analog: contributor/source survival across snapshot
    weeks).

    Scale: two hash aggs over (user, week) + one keyed join on
    user_id; the cohort dimension (weeks) is tiny so the sizes join
    broadcasts. No window over the raw event stream.
    """
    ev = load(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("act_week")).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    week_offset = F.expr(
        "CAST(datediff(act_week, cohort_week) div 7 AS BIGINT)"
    ).alias("week_offset")
    joined = firsts.join(activity, "user_id").select(
        "cohort_week", week_offset, "user_id"
    )
    out = (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
    )
    return out.select(
        "cohort_week", "week_offset", "n_active",
        F.col("cohort_size").cast("long").alias("cohort_size"),
        rnd(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    ).orderBy("cohort_week", "week_offset")

@query(
    "order_gap_stats",
    """
WITH gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS DATE),
              CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
  FROM orders
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       FLOOR((CAST(SUM(gap_days) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS avg_gap_days,
       MIN(gap_days) AS min_gap_days,
       MAX(gap_days) AS max_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per customer: consecutive-order day gaps
    via a lag window (o_orderdate, o_orderkey total order for ties on
    same-day orders), then exact integer-sum averages — the
    churn-model feature every retention pipeline derives.

    Scale: one window shuffle keyed by customer + one hash agg; gaps
    are integers so the average is an exact int-sum divide, no decimal
    accumulation needed.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).cast("long").alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            rnd(F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_gap_days"
            ),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("o_custkey")
    )

@query(
    "session_event_lift",
    """
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
),
st AS (SELECT DISTINCT user_id, sess_id, event_type FROM sess),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM (SELECT DISTINCT user_id, sess_id FROM st)
),
singles AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.sess_id = b.sess_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       FLOOR((CAST(p.n_ab AS DOUBLE) / sa.n) * 1000000 + 0.5) / 1000000 AS confidence_a_b,
       FLOOR((CAST(p.n_ab AS DOUBLE) * tot.n_sessions / (sa.n * sb.n)) * 1000000 + 0.5) / 1000000 AS lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN tot
ORDER BY p.type_a, p.type_b
""",
)
def session_event_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over sessions: support/confidence/LIFT
    for every event-type pair co-occurring in a 2-hour session — the
    a-priori first round (baskets = sessions, items = event types):
    lift > 1 means the pair co-occurs above independence.

    Scale: baskets reduce to DISTINCT (session, item) rows before any
    join; the pair join keys on the session id so candidate pairs are
    per-basket (a-priori's candidate generation), never a global item
    cross product. Item/total counts are broadcast-sized dimensions.
    """
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_ord)
    marked = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type",
        F.when(gap >= 7200 * 1_000_000, 1).otherwise(0).alias("new_sess"),
    )
    st = marked.select(
        "user_id", "event_type",
        F.sum("new_sess")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess_id"),
    ).select("user_id", "sess_id", "event_type").distinct()
    tot = st.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    singles = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = st.select("user_id", "sess_id", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "sess_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "sess_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a", "type_b", "n_ab",
            rnd(F.col("n_ab") / F.col("n_a"), 6).alias("confidence_a_b"),
            rnd(
                F.col("n_ab") * F.col("n_sessions") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )

@query(
    "customer_rfm_segments",
    f"""
WITH ref AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS maxd FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE), (SELECT maxd FROM ref)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {sql_dsum('o_totalprice')} AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
         NTILE(4) OVER (ORDER BY recency_days ASC, o_custkey) AS r_q,
         NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
         NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
  FROM base
)
SELECT o_custkey, recency_days, frequency, monetary, r_q, f_q, m_q,
       CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS rfm_code
FROM scored ORDER BY o_custkey
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary with
    quartile codes (1 = best) and the concatenated segment label — the
    classic CRM rollup, exactly reproducible because every NTILE rides
    a TOTAL order (metric + custkey tie-break) and monetary uses the
    decimal-exact dsum.

    Scale note: NTILE needs a global sort of the CUSTOMER DIMENSION
    (one row per customer — far smaller than the fact table but not
    calendar-tiny); at 100 TB swap the exact quartiles for
    approx-percentile cutoffs broadcast into a map-side CASE, the same
    trade approx_stats documents. The fact-table aggregation itself is
    one hash agg with map-side partials.
    """
    o = load(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("maxd", "__last").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r_q = F.ntile(4).over(Window.orderBy("recency_days", "o_custkey"))
    f_q = F.ntile(4).over(Window.orderBy(F.desc("frequency"), "o_custkey"))
    m_q = F.ntile(4).over(Window.orderBy(F.desc("monetary"), "o_custkey"))
    scored = base.select(
        "*", r_q.alias("r_q"), f_q.alias("f_q"), m_q.alias("m_q")
    )
    return scored.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_q", "f_q", "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("rfm_code"),
    ).orderBy("o_custkey")

@query(
    "session_funnel_conversion",
    """
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
),
fv AS (
  SELECT user_id, sess_id, MIN(ts) AS t_view
  FROM sess WHERE event_type = 'view' GROUP BY 1, 2
),
fc AS (
  SELECT s.user_id, s.sess_id, MIN(s.ts) AS t_click
  FROM sess s JOIN fv ON fv.user_id = s.user_id AND fv.sess_id = s.sess_id
  WHERE s.event_type = 'click' AND s.ts > fv.t_view
  GROUP BY 1, 2
),
fp AS (
  SELECT s.user_id, s.sess_id
  FROM sess s JOIN fc ON fc.user_id = s.user_id AND fc.sess_id = s.sess_id
  WHERE s.event_type = 'purchase' AND s.ts > fc.t_click
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM (SELECT DISTINCT user_id, sess_id FROM sess)
)
SELECT n_sessions,
       CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM fc) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_full_funnel,
       FLOOR((CAST((SELECT COUNT(*) FROM fv) AS DOUBLE) / n_sessions) * 1000000 + 0.5) / 1000000 AS view_rate,
       FLOOR((CAST((SELECT COUNT(*) FROM fp) AS DOUBLE) / n_sessions) * 1000000 + 0.5) / 1000000 AS funnel_rate
FROM tot
""",
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel conversion within 2-hour sessions: sessions with
    a view, with a click strictly AFTER the first view, and with a
    purchase strictly after that click — order-sensitive step logic a
    flat per-session event-type count cannot express (a purchase
    BEFORE the view must not count).

    Session assignment is the same gaps-and-islands rule user_sessions
    oracles (lag + running sum per user); step times come from three
    conditional aggs chained by keyed (user, session) joins — each
    stage's relation is one row per surviving session, so the funnel
    narrows the data at every step.
    """
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    # microsecond-exact gap (a seconds cast truncates and can flip a
    # boundary session split vs the oracle's INTERVAL comparison)
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_ord)
    marked = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type",
        F.when(gap >= 7200 * 1_000_000, 1).otherwise(0).alias("new_sess"),
    )
    sess = marked.select(
        "user_id", "ts", "event_type",
        F.sum("new_sess")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess_id"),
    )
    fv = (
        sess.filter(F.col("event_type") == "view")
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("t_view"))
    )
    fc = (
        sess.filter(F.col("event_type") == "click")
        .join(fv, ["user_id", "sess_id"])
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("t_click"))
    )
    fp = (
        sess.filter(F.col("event_type") == "purchase")
        .join(fc, ["user_id", "sess_id"])
        .filter(F.col("ts") > F.col("t_click"))
        .select("user_id", "sess_id")
        .distinct()
    )
    tot = sess.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    counts = (
        tot.crossJoin(F.broadcast(fv.agg(F.count(F.lit(1)).alias("n_view"))))
        .crossJoin(F.broadcast(fc.agg(F.count(F.lit(1)).alias("n_view_click"))))
        .crossJoin(F.broadcast(fp.agg(F.count(F.lit(1)).alias("n_full_funnel"))))
    )
    return counts.select(
        "n_sessions", "n_view", "n_view_click", "n_full_funnel",
        rnd(F.col("n_view") / F.col("n_sessions"), 6).alias("view_rate"),
        rnd(F.col("n_full_funnel") / F.col("n_sessions"), 6).alias("funnel_rate"),
    )

@query(
    "user_sessions",
    """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 2 HOUR AS session_end,
       COUNT(*) AS n_events,
       FLOOR((COALESCE((CAST(SUM(CAST(FLOOR((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100), 0.0)) * 100 + 0.5) / 100 AS vsum
FROM sess
GROUP BY user_id, sess_id
""",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 2h) per user over events — F.session_window
    in batch mode; the identical expression streams with a watermark
    (streaming/stateful.session_user_agg, equality tested). Oracle: the
    classic LAG-gap + cumulative-sum session reconstruction.
    """
    from etl_weather_spark.streaming.stateful import session_user_agg

    ev = load(spark, sf_dir, "events")
    return session_user_agg(ev, gap="2 hours")

@query(
    "udtf_melt_events",
    """
SELECT event_id AS row_key, 'user_id' AS col_name, CAST(user_id AS DOUBLE) AS value FROM events
UNION ALL
SELECT event_id, 'value', value FROM events
ORDER BY row_key, col_name
""",
)
def udtf_melt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF (Spark 4 analyze API): melt_numeric discovers
    the numeric columns of its TABLE argument at plan time and emits
    long-format rows — the dynamic-schema half of the §2.13 UDTF
    surface (functions/table_functions.MeltNumericUDTF). The oracle is
    the static UNION ALL the polymorphic call must reduce to on this
    input.
    """
    from etl_weather_spark.functions.table_functions import register_udtfs
    from etl_weather_spark.operators.dedup import widen_narrow_input

    register_udtfs(spark)
    ev = load(spark, sf_dir, "events")
    # the sf0.1 events parquet is one input split — without fanning out,
    # the per-row Python UDTF runs on ONE core (measured 30s; 28 of it
    # single-task eval). widen first: eval parallelism = partitions.
    widen_narrow_input(
        ev.select("event_id", "user_id", "value"), "event_id"
    ).createOrReplaceTempView("__events_for_melt")
    return spark.sql(
        """
        SELECT * FROM melt_numeric(TABLE(SELECT * FROM __events_for_melt))
        ORDER BY row_key, col_name
        """
    )

@query(
    "pivot_event_values",
    """
SELECT CAST(ts AS DATE) AS date,
       FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'view') AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS view_sum,
       FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'click') AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS click_sum,
       FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'error') AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS error_sum,
       FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'purchase') AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS purchase_sum
FROM events
GROUP BY CAST(ts AS DATE)
""",
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 inverse: PIVOT — long events to one wide column per event
    type (the reference's fold/unpivot run backwards).

    Scale: explicit value list means one pass (no distinct-values
    pre-query) and a fixed output schema; the agg is a plain hash agg
    with one shuffle on date.
    """
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.to_date("ts").alias("date"))
        .pivot("event_type", ["view", "click", "error", "purchase"])
        .agg(rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2))
    )
    return piv.select(
        "date",
        F.col("view").alias("view_sum"),
        F.col("click").alias("click_sum"),
        F.col("error").alias("error_sum"),
        F.col("purchase").alias("purchase_sum"),
    )

@query(
    "hourly_gap_fill",
    """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL 1 HOUR)) AS hour
),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
         FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS vsum
  FROM events
  GROUP BY 1
)
SELECT spine.hour, COALESCE(counts.n, 0) AS n, COALESCE(counts.vsum, 0.0) AS vsum
FROM spine LEFT JOIN counts ON spine.hour = counts.hour
""",
)
def hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: hourly grain with zero rows
    for empty hours (the hypertable/rollup pattern; reference charts
    assume a dense hourly axis).

    Scale: the spine is sequence+explode of a bounded literal range
    (720 rows) and BROADCASTS into the left join against the hourly
    pre-aggregate — events are aggregated BEFORE the join, so the join
    touches one row per hour, not one per event.
    """
    ev = load(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-01-30 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    counts = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum"),
    )
    return (
        F.broadcast(spine)
        .join(counts, "hour", "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("vsum", F.lit(0.0)).alias("vsum"),
        )
    )

@query(
    "value_percentiles",
    """
SELECT event_type,
       FLOOR(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
       FLOOR(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000 AS p90,
       FLOOR(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — Spark
    ``percentile`` ≙ DuckDB ``quantile_cont``, parity verified at
    sf0.01). The exact complement of approx_stats' KLL sketch: use this
    when the group cardinality is bounded, the sketch when it isn't.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            rnd(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            rnd(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            rnd(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )

@query(
    "error_after_click",
    """
SELECT c.user_id, c.ts AS click_ts, e.ts AS error_ts,
       FLOOR((EPOCH(e.ts) - EPOCH(c.ts)) * 100 + 0.5) / 100 AS delta_sec
FROM events c
JOIN events e
  ON c.user_id = e.user_id
 AND c.event_type = 'click' AND e.event_type = 'error'
 AND EPOCH(e.ts) - EPOCH(c.ts) BETWEEN 0 AND 3600
""",
)
def error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: error events within 1 h after a click by the
    same user — operators/joins.range_join_bucketed.

    Scale: the band condition is folded into an equi-join on
    (user_id, time-bucket); Spark would otherwise plan the pure
    inequality as a nested-loop. One hash-join shuffle, candidates
    bounded by bucket occupancy. Plan asserted nested-loop-free in
    tests/test_plans.py.
    """
    from etl_weather_spark.operators.joins import range_join_bucketed

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"), F.col("ts").alias("error_ts")
    )
    joined = range_join_bucketed(
        clicks,
        errors.withColumnRenamed("e_user_id", "user_id"),
        left_ts="click_ts",
        right_ts="error_ts",
        upper_sec=3600,
    )
    return joined.select(
        "user_id",
        "click_ts",
        "error_ts",
        rnd(
            F.col("error_ts").cast("double") - F.col("click_ts").cast("double"), 2
        ).alias("delta_sec"),
    )

@query(
    "nation_trade_volume",
    f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(year FROM l.l_shipdate) AS ship_year,
       {sql_round(sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6), 2)} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l.l_shipdate)
ORDER BY supp_nation, cust_nation, ship_year
""",
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: bilateral trade volume between two nations per
    ship year — fact table joined to BOTH role-playing nation dims.

    Scale: supplier/customer/nation broadcast; orders↔lineitem is the
    only shuffle; the nation-pair predicate prunes before the agg.
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(rnd(dsum(rev, 6), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )

@query(
    "market_share",
    f"""
WITH base AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS order_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'EUROPE'
)
SELECT order_year,
       {sql_round(
           sql_dsum("CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END", 6)
           + " / " + sql_dsum('volume', 6), 4)} AS mkt_share
FROM base
GROUP BY order_year
ORDER BY order_year
""",
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of a region's import volume
    per order year — conditional-sum ratio over a two-dim-chain join.

    Scale: every dimension chain broadcasts (region→nation→customer is
    pre-joined and pruned to one region before touching facts); the
    single fact-fact shuffle is orders↔lineitem.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cust_dim = F.broadcast(
        c.join(
            n.select("n_nationkey", "n_regionkey"),
            c["c_nationkey"] == F.col("n_nationkey"),
        )
        .join(
            r.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == r["r_regionkey"],
        )
        .select("c_custkey")
    )
    supp_dim = F.broadcast(
        s.join(
            n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")),
            s["s_nationkey"] == F.col("sn_key"),
        ).select("s_suppkey", "supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(cust_dim, o["o_custkey"] == F.col("c_custkey"))
        .join(supp_dim, l["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(rnd(dsum(nation_vol, 6) / dsum(vol, 6), 4).alias("mkt_share"))
        .orderBy("order_year")
    )

@query(
    "customer_order_distribution",
    """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
""",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: order-count histogram over a left join (keeps
    zero-order customers — COUNT of the nullable join key, not *).

    Scale: the per-custkey count is pushed BELOW the join (Catalyst
    does not do this aggregate pushdown itself): orders collapse to one
    row per ordering customer with map-side partials first, so the left
    join matches |customers| rows against |ordering customers| rows
    instead of replaying every order row through the join. At 100 TB
    that turns the join input from the fact-table row count into the
    dimension cardinality; zero-order customers surface via
    coalesce(n, 0) exactly like COUNT over an empty null extension.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("o_orderkey").alias("n"))
    per_cust = (
        c.select("c_custkey")
        .join(counts, c["c_custkey"] == counts["o_custkey"], "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )

@query(
    "waiting_suppliers_blame",
    """
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         date_diff('day', o.o_orderdate, l.l_shipdate) > 60 AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE is_late) l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM li l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
    SELECT 1 FROM li l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.is_late
)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def waiting_suppliers_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (adapted to this schema: 'late' = shipped >60
    days after the order date): suppliers who were the SOLE late
    shipper on a multi-supplier order — correlated EXISTS + NOT EXISTS
    against the same relation, the classic blame-assignment join shape.

    Spark form: the EXISTS is a left-semi join on (orderkey, other
    supplier present), the NOT EXISTS a left-anti join on (orderkey,
    other supplier late) — both keyed on l_orderkey, so the plan is
    three hash joins over a narrow (orderkey, suppkey, is_late)
    relation, no correlated subquery re-execution. Supplier dim
    broadcasts; final top-20 is TakeOrdered.
    """
    # the narrow (orderkey, suppkey, is_late) relation has THREE
    # consumers (l1, exists side, not-exists side) — fence its
    # lineage so the lineitem⋈orders join runs once, not 3×
    li = fence(
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
            ).alias("is_late"),
        )
    )
    l1 = li.filter("is_late").select("l_orderkey", "l_suppkey").distinct()
    others = li.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    exists = l1.join(
        others,
        (F.col("l_orderkey") == F.col("o_k")) & (F.col("l_suppkey") != F.col("o_s")),
        "left_semi",
    )
    others_late = li.filter("is_late").select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    sole = exists.join(
        others_late,
        (F.col("l_orderkey") == F.col("o_k")) & (F.col("l_suppkey") != F.col("o_s")),
        "left_anti",
    )
    s = load(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )

@query(
    "small_quantity_revenue",
    f"""
WITH thresholds AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
  FROM lineitem
  GROUP BY l_partkey
)
SELECT {sql_round(sql_dsum('l.l_extendedprice', 2) + " / 7.0", 2)} AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN thresholds t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < t.qty_threshold
""",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated per-part average via a self-agg
    join — lost revenue from small-quantity orders.

    Scale: lineitem is first pruned to the brand's parts (broadcast
    join on the filtered part dim), THEN the per-part threshold is
    aggregated over that pruned subset — one row per brand part, small
    enough to broadcast back; thresholds for non-brand parts are never
    computed. Quantities are integral doubles so the 0.2×avg threshold
    is bit-identical across engines.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li_brand = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    thresholds = (
        li_brand.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        li_brand
        .join(F.broadcast(thresholds), l["l_partkey"] == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            rnd(dsum("l_extendedprice", 2) / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )

@query(
    "status_cube",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    pass (complements status_rollup's hierarchy; free Spark op per
    SURVEY §2.6 note).

    Scale: Spark expands grouping sets map-side — one shuffle keyed by
    (grouping id, keys), partials collapse per set.
    """
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.coalesce(dsum("o_totalprice", 2), F.lit(0.0)), 2).alias("total_price"),
    )

@query(
    "value_quartiles",
    """
SELECT event_type, quartile,
       COUNT(*) AS n,
       FLOOR((MIN(value)) * 100 + 0.5) / 100 AS vmin,
       FLOOR((MAX(value)) * 100 + 0.5) / 100 AS vmax
FROM (
  SELECT event_type, value,
         NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
  FROM events
)
GROUP BY event_type, quartile
ORDER BY event_type, quartile
""",
)
def value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartile assignment per event type, then per-bucket stats.

    Total order (value, event_id) makes tile assignment deterministic
    across engines. Scale: one shuffle on event_type; NTILE is a
    single-pass window within each partition.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.min("value"), 2).alias("vmin"),
            rnd(F.max("value"), 2).alias("vmax"),
        )
        .orderBy("event_type", "quartile")
    )

@query(
    "variant_props",
    """
SELECT event_type,
       MIN(CAST(props->>'k' AS INT)) AS k_min,
       MAX(CAST(props->>'k' AS INT)) AS k_max,
       COUNT(DISTINCT CAST(props->>'k' AS INT)) AS k_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured via VARIANT (Spark ≥4.0): parse the JSON props
    column once into a variant and extract typed fields with
    variant_get — the open-format answer to schema-on-read JSON
    (binary-encoded, no per-access re-parse like get_json_object;
    complements json_extract_props' string-path variant).
    """
    ev = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
        .orderBy("event_type")
    )

@query(
    "monthly_rollup",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS vsum
  FROM events GROUP BY 1
)
SELECT date_trunc('month', date) AS month,
       COUNT(*) AS n_days,
       FLOOR(MIN(vsum) * 100 + 0.5) / 100 AS vmin,
       FLOOR(MAX(vsum) * 100 + 0.5) / 100 AS vmax,
       FLOOR((CAST(SUM(CAST(FLOOR(vsum * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(vsum)) * 100 + 0.5) / 100 AS vavg
FROM daily
GROUP BY 1
ORDER BY 1
""",
)
def monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the continuous-aggregate pattern):
    daily gold re-aggregated to monthly grain.

    Scale: rollups compose — the monthly agg reads the (tiny) daily
    output, never the raw events; in a lakehouse these materialize as
    chained gold tables with each level's shuffle sized by its grain.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum")
    )
    return (
        daily.groupBy(F.to_date(F.date_trunc("month", "date")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            rnd(F.min("vsum"), 2).alias("vmin"),
            rnd(F.max("vsum"), 2).alias("vmax"),
            rnd(davg("vsum"), 2).alias("vavg"),
        )
        .orderBy("month")
    )

@query(
    "daily_delta",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         FLOOR((COALESCE(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100, 0.0)) * 100 + 0.5) / 100 AS vsum
  FROM events GROUP BY 1
)
SELECT date, vsum,
       FLOOR((vsum - LAG(vsum) OVER (ORDER BY date)) * 100 + 0.5) / 100 AS delta,
       FLOOR((vsum - FIRST_VALUE(vsum) OVER (ORDER BY date)) * 100 + 0.5) / 100 AS vs_first
FROM daily
ORDER BY date
""",
)
def daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta (lag) and cumulative drift vs the first day
    (first_value) — the A8 %-difference family at daily grain.

    Scale: the window is over the daily aggregate (30 rows/month), not
    raw events; at multi-entity scale partition the window by entity —
    an unpartitioned orderBy window is a single task (the helpers in
    operators/windows.py force that choice).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum")
    )
    w = Window.orderBy("date")
    return daily.select(
        "date",
        "vsum",
        rnd(F.col("vsum") - F.lag("vsum").over(w), 2).alias("delta"),
        rnd(F.col("vsum") - F.first("vsum").over(w), 2).alias("vs_first"),
    ).orderBy("date")

@query(
    "geo_mean_values",
    """
SELECT event_type,
       FLOOR(EXP(AVG(LN(value))) * 10000 + 0.5) / 10000 AS geo_mean
FROM events
WHERE value > 0
GROUP BY event_type
ORDER BY event_type
""",
)
def geo_mean_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: GROUPED_AGG Pandas UDAF (geometric mean) — the one UDF
    surface the reference never needed, demonstrated with a real
    aggregate Spark lacks natively. Oracle: exp(avg(ln x)). Rounded at
    4 dp; the log-space mean is order-sensitive at ~1e-13 so the driver
    hash tolerance comes from rounding, verified at sf0.01.
    """
    from etl_weather_spark.functions.text import geometric_mean

    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(rnd(geometric_mean("value"), 4).alias("geo_mean"))
        .orderBy("event_type")
    )

@query(
    "cheapest_supplier",
    """
WITH priced AS (
  SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, s.s_suppkey,
         l.l_extendedprice / l.l_quantity AS up
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 15
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY up, s_suppkey) AS rn
  FROM priced
)
SELECT p_partkey, p_brand, s_name, n_name,
       FLOOR(up * 10000 + 0.5) / 10000 AS unit_price
FROM rk WHERE rn = 1
ORDER BY p_partkey
""",
)
def cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: per part (one size class), the supplier offering
    the minimum observed unit price. Q2's correlated min-subquery is
    re-expressed as a rank-1 window — one pass, no self-join.

    Scale: part(size=15) and supplier/nation broadcast, so the only
    shuffle is the window's hash-partition by p_partkey; ties broken by
    s_suppkey for a total order. The division is identical IEEE-754 in
    both engines, so rank order is engine-stable.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    up = (F.col("l_extendedprice") / F.col("l_quantity")).alias("up")
    priced = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("p_partkey", "p_brand", "s_name", "n_name", "s_suppkey", up)
    )
    w = Window.partitionBy("p_partkey").orderBy("up", "s_suppkey")
    return (
        priced.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            rnd(F.col("up"), 4).alias("unit_price"),
        )
        .orderBy("p_partkey")
    )

@query(
    "nation_profit",
    """
SELECT n.n_name AS nation,
       EXTRACT(year FROM o.o_orderdate) AS o_year,
       FLOOR(((CAST(SUM(CAST(FLOOR(((l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''TPC-H Q9-shaped: profit by supplier nation and order year over a
    name-filtered part subset. partsupp is absent, so supply cost is
    proxied as 10% of p_retailprice per unit — same 5-way join shape.

    Scale: part/supplier/nation broadcast (name filter prunes part before
    the join); orders<->lineitem is the single fact-fact shuffle, then one
    hash agg on (nation, year). Decimal-accumulated sum keeps the hash
    engine-stable.
    '''
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(rnd(dsum(profit, 6), 2).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )

@query(
    "important_parts",
    """
SELECT l_partkey,
       FLOOR(((CAST(SUM(CAST(FLOOR(((l_extendedprice)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000)) * 100 + 0.5) / 100 AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING (CAST(SUM(CAST(FLOOR(((l_extendedprice)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000) >
       (SELECT (CAST(SUM(CAST(FLOOR(((l_extendedprice)) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000) * 1.5
               / COUNT(DISTINCT l_partkey)
        FROM lineitem)
ORDER BY part_value DESC, l_partkey
""",
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''TPC-H Q11-shaped: parts whose total traded value exceeds a
    threshold — per-group agg HAVING a scalar subquery. The threshold is
    scale-free (1.5x the average per-part value), so the query stays
    selective-but-nonempty at any SF.

    Scale: two aggs over the same scan (per-part and grand total); the
    1-row total broadcasts into the filter via crossJoin, so no second
    shuffle of the big side. Both sides accumulate in decimal, making
    the threshold comparison engine-exact.
    '''
    l = load(spark, sf_dir, "lineitem")
    per_part = l.groupBy("l_partkey").agg(dsum("l_extendedprice", 6).alias("pv"))
    total = l.agg(
        (
            dsum("l_extendedprice", 6) * 1.5 / F.count_distinct("l_partkey")
        ).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("pv") > F.col("threshold"))
        .select("l_partkey", rnd(F.col("pv"), 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )

@query(
    "supplier_variety",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct-supplier counts per part attribute
    combo, excluding one brand and a bad-supplier set (NOT IN subquery
    -> broadcast left_anti join; partsupp absent, lineitem is the
    part-supplier bridge).

    Scale: the anti side is tiny (negative-balance suppliers) and
    broadcasts; part broadcasts; COUNT(DISTINCT) expands to a two-phase
    agg (distinct-ize on (group, suppkey), then count) planned by
    Catalyst — no row explosion.
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(bad), l["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )

@query(
    "lone_failed_supplier",
    """
WITH om AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_fail
  FROM lineitem
  GROUP BY l_orderkey
),
cand AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
  WHERE l.l_returnflag = 'R'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM cand c
JOIN om ON om.l_orderkey = c.l_orderkey AND om.n_supp > 1 AND om.n_fail = 1
JOIN supplier s ON s.s_suppkey = c.l_suppkey
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
""",
)
def lone_failed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: suppliers who were the ONLY supplier with
    returned lines (returnflag R as the late-delivery proxy; the corpus
    has no commit/receipt dates) on finalized multi-supplier orders.

    Q21's EXISTS / NOT EXISTS pair is reformulated as one per-order
    aggregate (n_supp > 1 AND n_fail = 1) — one shuffle over lineitem
    replaces two correlated self-joins; the oracle SQL uses the
    identical reformulation so both engines compute the same relation.

    Scale: the per-order metadata relation is keyed and joined on
    l_orderkey, co-partitioned with the candidate relation (same key),
    so AQE plans the meta join shuffle-free after the two aggs; supplier
    broadcasts.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    om = l.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_fail"),
    )
    cand = (
        l.filter(F.col("l_returnflag") == "R")
        .join(o.select("o_orderkey"), l["l_orderkey"] == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        cand.join(
            om.filter((F.col("n_supp") > 1) & (F.col("n_fail") == 1)), "l_orderkey"
        )
        .join(F.broadcast(s), cand["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )

@query(
    "hourly_gapfill_ffill",
    f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
),
spine AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         {sql_round(f"{sql_dsum('value')} / COUNT(value)", 2)} AS err_avg
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT s.hour, h.err_avg,
       LAST_VALUE(h.err_avg IGNORE NULLS)
         OVER (ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS err_avg_ffill,
       h.err_avg IS NULL AS is_gap
FROM spine s LEFT JOIN hourly h ON h.hour = s.hour
ORDER BY s.hour
""",
)
def hourly_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-hourly-spine resample + forward fill: generate every
    hour between the corpus bounds (sequence + explode — hours with no
    error events exist as rows), left-join the sparse hourly error
    average, carry the last observation forward, flag the filled gaps.
    The dashboard/feature-store gap-fill every time-series consumer
    needs (42 of 720 hours have no error events at sf0.01).

    Scale note: the fill window is a GLOBAL ordered window — over the
    TIME DIMENSION (one row per hour: ~9k rows/year), never the raw
    events, so the single-reducer sort is bounded by calendar size, not
    data size. Per-entity fills partition the same window by key.
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(rnd(davg("value"), 2).alias("err_avg"))
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(hourly, "hour", "left")
        .select(
            "hour",
            "err_avg",
            F.last("err_avg", ignorenulls=True).over(w).alias("err_avg_ffill"),
            F.col("err_avg").isNull().alias("is_gap"),
        )
        .orderBy("hour")
    )

def _pr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank round (bit-exact mirror of
    operators/graph.pagerank_scaled: integer div by outdeg, damped
    integer recombination; DuckDB ``//`` == Spark ``div`` on
    positive BIGINTs)."""
    return f"""{cur} AS (
  SELECT e.dst AS node,
         CAST(150000000 + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""

@query(
    "merge_incremental_custagg",
    f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def merge_incremental_custagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh via MERGE (operators/merge.merge_frames):
    a per-customer rollup snapshot built from orders before 1999 is
    merged with recomputed rows for every customer active in 1999+ —
    matched keys update, new customers insert, untouched customers keep
    their snapshot rows.

    Oracle: the merged relation must equal the from-scratch rollup over
    ALL orders — the defining invariant of incremental maintenance
    (same bar sources/lakehouse.incremental_refresh is tested to).

    Scale: the changeset side aggregates only active customers'
    history; the merge is one key-partitioned full-outer join. At
    100 TB, bucket both sides by o_custkey (write_bucketed) and the
    join plans shuffle-free.
    """
    from etl_weather_spark.operators.merge import merge_frames

    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )

    target = rollup(o.filter(F.col("o_orderdate") < cutoff))
    active = (
        o.filter(F.col("o_orderdate") >= cutoff).select("o_custkey").distinct()
    )
    source = rollup(o.join(active, "o_custkey"))
    return merge_frames(target, source, ["o_custkey"]).orderBy("o_custkey")

_FUNNEL_SQL = r"""
WITH RECURSIVE
corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
s1 AS (SELECT * FROM corpus WHERE lang = 'en'),
scored AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   - length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1
              END AS n_tokens,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS s_en,
         length(text) AS n_chars_x,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
  FROM s1
),
qual AS (
  SELECT doc_id,
         FLOOR((0.4 * least(n_tokens / 100.0, 1.0)
                + 0.3 * (1.0 - (CASE WHEN n_chars_x > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_x ELSE 0.0 END))
                + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE) / n_tokens ELSE 0.0 END) * 5.0, 1.0))
               * 10000 + 0.5) / 10000 AS quality
  FROM scored
),
s2 AS (SELECT s1.* FROM s1 JOIN qual USING (doc_id) WHERE quality >= 0.5),
fp AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM s2
),
s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT MIN(doc_id) FROM fp GROUP BY fingerprint)),
toks3 AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM s3
),
sh3 AS (
  SELECT DISTINCT doc_id,
         UNNEST(CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk) - 2),
                                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh3 a JOIN sh3 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION SELECT id_b, id_a FROM prs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
s4 AS (
  SELECT * FROM s3
  WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)
),
btoks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM documents WHERE doc_id % 50 = 0
),
bsh AS (
  SELECT DISTINCT UNNEST(CASE WHEN len(tk) >= 5
         THEN list_transform(generate_series(1, len(tk) - 4),
                             i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM btoks
),
ttoks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM s4
),
tsh AS (
  SELECT DISTINCT doc_id, UNNEST(CASE WHEN len(tk) >= 5
         THEN list_transform(generate_series(1, len(tk) - 4),
                             i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM ttoks
),
contaminated AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b ON b.sh = t.sh),
s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT * FROM (
  SELECT 0 AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs,
         COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) AS kept_id_sum FROM corpus
  UNION ALL SELECT 1, 'lang_en', COUNT(*), COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) FROM s1
  UNION ALL SELECT 2, 'quality', COUNT(*), COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) FROM s2
  UNION ALL SELECT 3, 'exact_dedup', COUNT(*), COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) FROM s3
  UNION ALL SELECT 4, 'near_dedup', COUNT(*), COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) FROM s4
  UNION ALL SELECT 5, 'decontaminated', COUNT(*), COALESCE(CAST(SUM(doc_id) AS BIGINT), 0) FROM s5
) ORDER BY stage_no
"""

@query(
    "heavy_hitter_users",
    """
WITH tot AS (SELECT COUNT(*) AS n FROM events)
SELECT user_id, COUNT(*) AS n_occurrences, tot.n AS total_n
FROM events, tot
GROUP BY user_id, tot.n
HAVING COUNT(*) >= CEIL(0.008 * tot.n)
ORDER BY n_occurrences DESC, user_id
""",
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitter users (≥0.8% of all events — the bot/abuse screen
    a training pipeline runs before trusting engagement signals).

    Two-pass sketch plan (operators/frequent.heavy_hitters): map-side
    Misra-Gries summaries emit ≤k candidate rows per partition (never
    the full user distribution through the shuffle), then an exact
    broadcast-semi-join recount — so the OUTPUT is exact and
    partitioning-independent while the shuffle stays O(k·partitions).
    ``slack=1.0`` keeps k at the guarantee floor (k+1 > 1/φ), so the
    decrement path actually exercises at this corpus's cardinality.

    Oracle: the plain full GROUP BY + HAVING — the exactness claim.
    """
    from etl_weather_spark.operators.frequent import heavy_hitters

    ev = load(spark, sf_dir, "events")
    hh = heavy_hitters(
        ev.select(F.col("user_id").alias("item")), phi=0.008, slack=1.0
    )
    return hh.select(
        F.col("item").cast("long").alias("user_id"), "n_occurrences", "total_n"
    ).orderBy(F.desc("n_occurrences"), "user_id")

@query(
    "pricing_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n,
       FLOOR(((CAST(SUM(CAST(FLOOR(((l_quantity)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def pricing_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (detail + per-flag subtotal + grand total)
    with grouping_id disambiguating real NULLs from rollup rows —
    complements the CUBE/ROLLUP queries.

    Scale: Spark expands grouping sets into one Expand + single hash
    agg — one pass over the fact table for all three granularities.
    """
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            rnd(dsum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )

@query(
    "weekly_retention",
    """
WITH dau AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
base AS (SELECT d, COUNT(*) AS n_users FROM dau GROUP BY d),
ret AS (
  SELECT a.d, COUNT(*) AS n_retained
  FROM dau a
  JOIN dau b ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 7 DAY
  GROUP BY a.d
)
SELECT base.d AS cohort_date, n_users,
       COALESCE(n_retained, 0) AS n_retained,
       FLOOR((COALESCE(n_retained, 0) * 1.0 / n_users) * 10000 + 0.5) / 10000 AS retention_rate
FROM base LEFT JOIN ret ON ret.d = base.d
ORDER BY cohort_date
""",
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day cohort retention: of the users active on day d, the share
    also active on d+7 — the standard engagement/cohort analytic.

    Scale: DAU distinct-ize is the dominant shuffle (keyed on
    user_id+date); the self-join is DAU-sized (users x days, tiny vs
    raw events) and co-partitions on user_id. The DAU relation has
    THREE consumers (base counts + both join sides) — the lazy fence
    makes the plan distinct-ize once per action instead of re-scanning
    events per consumer (same fence as pagerank_scaled).
    """
    ev = load(spark, sf_dir, "events")
    dau = fence(
        ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    base = dau.groupBy("d").agg(F.count(F.lit(1)).alias("n_users"))
    fut = dau.select("user_id", F.date_sub(F.col("d"), 7).alias("d"))
    ret = (
        dau.join(fut, ["user_id", "d"])
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return (
        base.join(ret, "d", "left")
        .select(
            F.col("d").alias("cohort_date"),
            "n_users",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            rnd(
                F.coalesce("n_retained", F.lit(0)) / F.col("n_users"), 4
            ).alias("retention_rate"),
        )
        .orderBy("cohort_date")
    )

@query(
    "top3_days_per_type",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date,
         (CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS vsum_raw
  FROM events GROUP BY 1, 2
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY vsum_raw DESC, date) AS rn
  FROM daily
)
SELECT event_type, date, FLOOR(vsum_raw * 100 + 0.5) / 100 AS vsum, rn
FROM rk WHERE rn <= 3
ORDER BY event_type, rn
""",
)
def top3_days_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-volume days per event type — per-group top-k via
    rank window (the A6/O6 ranking family generalized to k per group).

    Scale: the window runs over the daily AGGREGATE (groups x days), not
    raw events, and partitions by event_type, so no global sort; the
    decimal sum makes rank order engine-stable on ties.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("date")
    ).agg(dsum("value").alias("vsum_raw"))
    w = Window.partitionBy("event_type").orderBy(F.desc("vsum_raw"), "date")
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "event_type", "date", rnd("vsum_raw", 2).alias("vsum"), "rn"
        )
        .orderBy("event_type", "rn")
    )

@query(
    "event_transitions",
    """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type, next_type, COUNT(*) AS n
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY event_type, next_type
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-next-event transition counts per user timeline (the
    Markov/path-analysis primitive behind funnels and sequence mining).

    Scale: one shuffle partitions raw events by user_id; the lead window
    sorts within each user's partition only (no global sort), then the
    transition-pair agg is partial+final. Tie order inside a timestamp
    is pinned by event_id so both engines see the same sequence.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "next_type")
    )

@query(
    "yoy_revenue_growth",
    """
WITH yearly AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         (CAST(SUM(CAST(FLOOR(((o_totalprice)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS rev_raw
  FROM orders
  GROUP BY 1
)
SELECT o_year,
       FLOOR(rev_raw * 100 + 0.5) / 100 AS revenue,
       FLOOR((100.0 * (rev_raw - LAG(rev_raw) OVER (ORDER BY o_year))
              / LAG(rev_raw) OVER (ORDER BY o_year)) * 100 + 0.5) / 100 AS yoy_pct
FROM yearly
ORDER BY o_year
""",
)
def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth — lag window over the yearly
    rollup (the A8 %-difference family at annual grain; first year's
    growth is null).

    Scale: the window input is years (a handful of rows), never raw
    orders; one hash agg then a single-partition window over the tiny
    aggregate is the right trade.
    """
    o = load(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        dsum("o_totalprice").alias("rev_raw")
    )
    w = Window.orderBy("o_year")
    prev = F.lag("rev_raw").over(w)
    return yearly.select(
        "o_year",
        rnd("rev_raw", 2).alias("revenue"),
        rnd(100.0 * (F.col("rev_raw") - prev) / prev, 2).alias("yoy_pct"),
    ).orderBy("o_year")

@query(
    "nation_share_of_year",
    """
WITH ny AS (
  SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
         (CAST(SUM(CAST(FLOOR(((o.o_totalprice)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS rev_raw
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
)
SELECT nation, o_year,
       FLOOR(rev_raw * 100 + 0.5) / 100 AS revenue,
       FLOOR((100.0 * rev_raw / SUM(rev_raw) OVER (PARTITION BY o_year)) * 100 + 0.5) / 100 AS share_pct
FROM ny
ORDER BY o_year, nation
""",
)
def nation_share_of_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of annual revenue — unordered partition
    window total (ratio_to_report): the denominator is a window sum
    over the year partition, no self-join back to a totals table.

    Scale: agg first (nation x year rows), window over the aggregate;
    customer->nation broadcasts before the orders agg. Decimal sums keep
    numerator and denominator engine-identical, so the ratio rounds the
    same on both sides.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    dim = F.broadcast(
        c.join(
            n.select("n_nationkey", F.col("n_name").alias("nation")),
            c["c_nationkey"] == F.col("n_nationkey"),
        ).select("c_custkey", "nation")
    )
    ny = (
        o.join(dim, o["o_custkey"] == F.col("c_custkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum("o_totalprice").alias("rev_raw"))
    )
    w = Window.partitionBy("o_year")
    return ny.select(
        "nation",
        "o_year",
        rnd("rev_raw", 2).alias("revenue"),
        rnd(100.0 * F.col("rev_raw") / F.sum("rev_raw").over(w), 2).alias(
            "share_pct"
        ),
    ).orderBy("o_year", "nation")

@query(
    "rolling_avg_7d_range",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         (CAST(ts AS DATE) - DATE '1970-01-01') AS d0,
         FLOOR((COALESCE((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100), 0.0)) * 100 + 0.5) / 100 AS vsum
  FROM events
  GROUP BY 1, 2
),
wk AS (SELECT * FROM daily WHERE (d0 + 4) % 7 NOT IN (0, 6))
SELECT date, vsum,
       FLOOR(((CAST(SUM(CAST(FLOOR((vsum) * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100)
              / COUNT(vsum) OVER w) * 100 + 0.5) / 100 AS ma7d
FROM wk
WINDOW w AS (ORDER BY d0 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY date
""",
)
def rolling_avg_7d_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 with a RANGE (interval) frame — the robust 7-*day* trailing
    average SURVEY §2.7 calls for: on a gapped series (weekends removed
    here) a 7-ROW frame silently reaches back 9+ calendar days, while
    the RANGE frame averages exactly the days that exist in the last 7.

    Scale: same shape as rolling_avg_7d (window over the daily
    aggregate, not raw events); range frames cost the same sort as row
    frames. Day-of-week drops via epoch-day arithmetic ((d0+4)%7,
    0=Sunday) — identical integer math in both engines, no locale.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("date"))
        .agg(rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum"))
        .withColumn("d0", F.unix_date("date"))
    )
    wk = daily.filter(~((F.col("d0") + 4) % 7).isin(0, 6))
    w = Window.orderBy("d0").rangeBetween(-6, 0)
    ma = (
        F.sum(F.col("vsum").cast("decimal(28,2)")).over(w).cast("double")
        / F.count("vsum").over(w)
    )
    return wk.select("date", "vsum", rnd(ma, 2).alias("ma7d")).orderBy("date")

_PROFILE_COL_SQL = """
SELECT '{c}' AS "column", COUNT(*) AS n_rows,
       COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,
       FLOOR((COUNT(CASE WHEN {c} IS NULL THEN 1 END) * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000 AS null_frac,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_str,
       CAST(MAX({c}) AS VARCHAR) AS max_str
FROM orders"""

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

@query(
    "orders_profile",
    "\nUNION ALL\n".join(_PROFILE_COL_SQL.format(c=c) for c in _PROFILE_COLS)
    + '\nORDER BY "column"',
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders (null rate, cardinality, range) in
    ONE aggregate pass — the pre-flight a pipeline runs on any table it
    didn't author (operators/profiling.profile_table). The oracle needs
    one UNION-ALL branch per column; the engine needs one scan total.
    """
    from etl_weather_spark.operators.profiling import profile_table

    o = load(spark, sf_dir, "orders")
    return profile_table(o, _PROFILE_COLS).orderBy("column")

@query(
    "orders_profile_approx",
    """
SELECT "column", n, n_null, exact_distinct, TRUE AS approx_ok FROM (
"""
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", COUNT(*) AS n,"
        f" COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,"
        f" COUNT(DISTINCT {c}) AS exact_distinct FROM orders"
        for c in ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    )
    + """
) ORDER BY "column"
""",
)
def orders_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of orders_profile: approx_count_distinct (HLL++)
    replaces the exact COUNT(DISTINCT)s, error-bounded in the same pass
    (the swap orders_profile's docstring prescribes at scale, made real
    and oracle-gated).

    One aggregate pass computes n / null count / exact distinct /
    approx distinct per column; the output carries the exact values
    (both engines compute them) plus ``approx_ok`` asserting the
    sketch landed within 5% relative (or ±2 absolute for tiny
    cardinalities) — the same bounds-oracle pattern as approx_stats.
    At 100 TB the exact_distinct columns are dropped and only the
    sketch runs; here they double as the oracle's ground truth.
    """
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"]
    o = load(spark, sf_dir, "orders")
    # TWO aggregates, deliberately: multi-column exact COUNT(DISTINCT)
    # rewrites via Expand into one aggregation group per distinct value,
    # and any sketch in the same agg gets a buffer PER GROUP — 4 HLL
    # sketches (p=14, ~16 KB each) × 150k distinct keys is gigabytes of
    # aggregate state (measured: 35 s + GC thrash at sf0.1). Kept apart,
    # the sketches live in ONE buffer per partition (1.2 s total); the
    # two 1-row results meet in a broadcast cross join. At 100 TB only
    # the sketch agg runs at all — the exact side exists here as the
    # oracle's ground truth.
    exact_aggs = [F.count(F.lit(1)).alias("__n")]
    sketch_aggs = []
    for c in cols:
        exact_aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}"))
        exact_aggs.append(F.count_distinct(F.col(c)).alias(f"__ed_{c}"))
        # rsd 0.02: measured error ≤0.6% on this corpus (deterministic —
        # HLL has no seed), comfortably inside the 5% oracle bound at a
        # quarter of the p=14 sketch size
        sketch_aggs.append(F.approx_count_distinct(F.col(c), 0.02).alias(f"__ad_{c}"))
    flat = o.agg(*exact_aggs).crossJoin(F.broadcast(o.agg(*sketch_aggs)))
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__ed_{c}").alias("exact_distinct"),
            (
                F.abs(F.col(f"__ad_{c}") - F.col(f"__ed_{c}"))
                <= F.greatest(F.lit(2.0), 0.05 * F.col(f"__ed_{c}"))
            ).alias("approx_ok"),
        )
        for c in cols
    ]
    return (
        flat.select(F.explode(F.array(*per_col)).alias("p"))
        .select("p.*")
        .orderBy("column")
    )

@query(
    "lineitem_quality_checks",
    """
SELECT 'not_null(l_orderkey)' AS "check", COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS violations,
       COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) = 0 AS passed FROM lineitem
UNION ALL
SELECT 'unique_key(l_orderkey,l_linenumber)', COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)),
       COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) = 0 FROM lineitem
UNION ALL
SELECT 'in_range(l_discount,0.0,0.1)', COUNT(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 END),
       COUNT(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 END) = 0 FROM lineitem
UNION ALL
SELECT 'in_set(l_returnflag)', COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R') AND l_returnflag IS NOT NULL THEN 1 END),
       COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R') AND l_returnflag IS NOT NULL THEN 1 END) = 0 FROM lineitem
ORDER BY "check"
""",
)
def lineitem_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations evaluated in ONE pass (Deequ-style:
    operators/profiling.run_checks): null-ness, key uniqueness, value
    domain, and range. (l_orderkey, l_linenumber) is genuinely NOT
    unique in this corpus, so the suite demonstrates a failing check,
    not just green ticks.
    """
    from etl_weather_spark.operators.profiling import (
        in_range,
        in_set,
        not_null,
        run_checks,
        unique_key,
    )

    l = load(spark, sf_dir, "lineitem")
    checks = [
        not_null("l_orderkey"),
        unique_key("l_orderkey", "l_linenumber"),
        in_range("l_discount", 0.0, 0.1),
        in_set("l_returnflag", ["A", "N", "R"]),
    ]
    return run_checks(l, checks).orderBy("check")

@query(
    "sliding_window_volume",
    """
WITH grids AS (
  SELECT make_timestamp(CAST((FLOOR((epoch(ts) - ofs) / 600) * 600 + ofs) AS BIGINT) * 1000000) AS window_start,
         value
  FROM events
  CROSS JOIN (SELECT UNNEST([0, 300]) AS ofs) offsets
)
SELECT window_start,
       COUNT(*) AS n,
       FLOOR(((CAST(SUM(CAST(FLOOR(((value)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)) * 100 + 0.5) / 100 AS vsum
FROM grids
GROUP BY window_start
ORDER BY window_start
""",
)
def sliding_window_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min length, 5 min slide) in BATCH:
    every event lands in exactly two overlapping windows — the batch
    twin of the Structured Streaming sliding aggregation (same
    ``F.window`` call works under readStream + watermark unchanged).

    Oracle: a slide is the union of length/slide tumbling grids at
    offsets 0 and 300 s — pure epoch arithmetic, engine-portable.

    Scale: Spark expands each row into window copies before the hash agg
    (length/slide × row amplification) — keep the ratio small or
    pre-aggregate to the slide granularity first and roll 2 buckets up.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.coalesce(dsum("value"), F.lit(0.0)), 2).alias("vsum"),
        )
        .select(F.col("win.start").alias("window_start"), "n", "vsum")
        .orderBy("window_start")
    )

@query(
    "priority_linestatus_mix",
    """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY l.l_linestatus
ORDER BY l_linestatus
""",
)
def priority_linestatus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: per line status, how many lines belong to
    high- vs low-priority orders — the conditional-count pivot over a
    fact-fact join (shipmode/commitdate don't exist in this corpus;
    linestatus plays the grouping role).

    Scale: one orders<->lineitem shuffle join, then conditional sums
    fold into a single hash agg (no second pass per priority class).
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )

@query(
    "dominant_part_suppliers",
    """
WITH ps AS (
  SELECT l.l_partkey, l.l_suppkey,
         (CAST(SUM(CAST(FLOOR(((l.l_quantity)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS sq
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
  GROUP BY 1, 2
),
pt AS (
  SELECT l_partkey, (CAST(SUM(CAST(FLOOR(((sq)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS tq
  FROM ps GROUP BY 1
)
SELECT DISTINCT s.s_name
FROM ps
JOIN pt ON pt.l_partkey = ps.l_partkey AND ps.sq > 0.15 * pt.tq
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
ORDER BY s_name
""",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers who shipped an outsized share (>15%,
    ~p99 of supplier-part pairs here) of a part's total volume
    (name-filtered part subset) — nested aggregate threshold +
    semi-style join back to the supplier dim (partsupp's availqty is
    absent; the per-part total plays its role).

    Scale: both aggregates key on l_partkey, so the second agg and the
    threshold join reuse the first shuffle's partitioning; supplier
    broadcasts; DISTINCT collapses multi-part winners without a second
    wide shuffle (it rides the s_name sort).
    """
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load(spark, sf_dir, "supplier")
    ps = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("sq"))
    )
    pt = ps.groupBy("l_partkey").agg(dsum("sq").alias("tq"))
    return (
        ps.join(pt, "l_partkey")
        .filter(F.col("sq") > 0.15 * F.col("tq"))
        .join(F.broadcast(s), ps["l_suppkey"] == s["s_suppkey"])
        .select("s_name")
        .distinct()
        .orderBy("s_name")
    )

@query(
    "retained_churned_customers",
    """
WITH y1 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997),
y2 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1998)
SELECT 'retained' AS cohort, COUNT(*) AS n_customers
FROM (SELECT o_custkey FROM y1 INTERSECT SELECT o_custkey FROM y2)
UNION ALL
SELECT 'churned', COUNT(*)
FROM (SELECT o_custkey FROM y1 EXCEPT SELECT o_custkey FROM y2)
UNION ALL
SELECT 'new', COUNT(*)
FROM (SELECT o_custkey FROM y2 EXCEPT SELECT o_custkey FROM y1)
ORDER BY cohort
""",
)
def retained_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cohorts (SURVEY §2.9's 'free' Spark extras used
    for real): customers active in both 1997 and 1998 (INTERSECT),
    only-1997 (EXCEPT = churned), only-1998 (new).

    Scale: each set op is one hash-distinct + co-partitioned
    semi/anti-style plan on the customer key; the year filters prune at
    the orders scan before any shuffle.
    """
    o = load(spark, sf_dir, "orders")
    y1 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    y2 = o.filter(F.year("o_orderdate") == 1998).select("o_custkey").distinct()

    def count_of(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("cohort"), F.count(F.lit(1)).alias("n_customers")
        )

    return (
        count_of(y1.intersect(y2), "retained")
        .unionByName(count_of(y1.exceptAll(y2), "churned"))
        .unionByName(count_of(y2.exceptAll(y1), "new"))
        .orderBy("cohort")
    )

@query(
    "latest_event_per_user",
    """
SELECT user_id, event_type AS last_type, ts AS last_ts,
       FLOOR((value) * 100 + 0.5) / 100 AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key (M2's 'latest view' pattern as a driver-facing
    query): rank-1 window over (ts, event_id) desc — the
    bronze-append/current-state primitive every CDC-style table needs.

    Scale: one shuffle on user_id; AQE handles hot users. The
    deterministic event_id tie-break matters: at scale same-timestamp
    rows WILL exist and an unpinned top-1 flaps between runs.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
            rnd("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )

_SCD2_SEGMENTS_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id, CAST(FLOOR(value / 250) AS INT) AS tier
  FROM events
),
lagged AS (
  SELECT *, LAG(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM base
),
ver AS (
  SELECT *, CAST(SUM(CASE WHEN prev IS NULL OR prev <> tier THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM lagged
),
seg AS (
  SELECT user_id, version, tier,
         MIN(ts) AS valid_from, COUNT(*) AS n_rows
  FROM ver GROUP BY 1, 2, 3
)
SELECT user_id, version, tier, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL)
         AS is_current,
       n_rows
FROM seg
"""

@query("scd2_user_tiers", _SCD2_SEGMENTS_SQL + "ORDER BY user_id, version")
def scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse each user's event stream into
    effective-dated tier versions (gaps-and-islands → valid_from /
    valid_to / is_current), the batch core of a CDC dimension pipeline
    (operators/scd.py).

    Scale: the entire collapse — two window passes + the segment
    group-by — runs on ONE shuffle keyed by user_id (hash partitioning
    on the key satisfies every downstream clustered distribution;
    asserted in tests/test_plans.py). Per-key state is that key's
    history, never the table.
    """
    from etl_weather_spark.operators.scd import scd2_collapse

    ev = load(spark, sf_dir, "events")
    tiers = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") / 250).cast("int").alias("tier"),
    )
    return scd2_collapse(
        tiers, key_col="user_id", ts_col="ts",
        attr_cols=["tier"], tiebreak_cols=["event_id"],
    ).orderBy("user_id", "version")

@query(
    "scd2_asof_lookup",
    f"""
WITH hist AS ({_SCD2_SEGMENTS_SQL}),
probes AS (SELECT DISTINCT user_id FROM events),
resolved AS (
  SELECT p.user_id, h.tier
  FROM probes p LEFT JOIN hist h
    ON h.user_id = p.user_id
   AND h.valid_from <= TIMESTAMP '2024-01-16 00:00:00'
   AND (h.valid_to IS NULL OR TIMESTAMP '2024-01-16 00:00:00' < h.valid_to)
)
SELECT tier, COUNT(*) AS n_users
FROM resolved GROUP BY tier ORDER BY tier
""",
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against SCD2 history: which tier
    was each user in at 2024-01-16? (half-open interval membership,
    operators/scd.py scd2_lookup_asof), rolled up to a tier census.

    A user whose first version starts after the probe time resolves to
    NULL tier — the left join keeps them (counted in the NULL row),
    exactly how a warehouse as-of join must treat not-yet-seen keys.

    Scale: equi-join on user_id with the interval predicate as a
    post-join filter; per-key cost is version-count, never a cross
    product.
    """
    from etl_weather_spark.operators.scd import scd2_collapse, scd2_lookup_asof

    ev = load(spark, sf_dir, "events")
    tiers = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") / 250).cast("int").alias("tier"),
    )
    hist = scd2_collapse(
        tiers, key_col="user_id", ts_col="ts",
        attr_cols=["tier"], tiebreak_cols=["event_id"],
    )
    probes = ev.select("user_id").distinct().withColumn(
        "at", F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    resolved = scd2_lookup_asof(hist, probes, key_col="user_id", at_col="at")
    return (
        resolved.groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("tier")
    )

@query(
    "funnel_conversion",
    """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s1) AS n_view,
       (SELECT COUNT(*) FROM s2) AS n_click,
       (SELECT COUNT(*) FROM s3) AS n_purchase
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): each stage
    counts users whose stage event strictly FOLLOWS their entry into the
    previous stage — the product-analytics primitive (reference has no
    analog; the ordered-sequence shape is TPC-DS q-series territory).

    Scale: three per-user min-aggs, each shuffled on user_id; stage
    joins reuse that key, so AQE coalesces them into the same exchange
    layout. Stage frames shrink monotonically (funnel!), so the later
    joins broadcast. No windows, no per-user sort — state per user is
    one timestamp per stage.
    """
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase")))
    )

@query(
    "order_price_histogram",
    """
WITH b AS (
  SELECT CAST(FLOOR(FLOOR(o_totalprice * 100 + 0.5) / 5000000) AS BIGINT) AS bucket
  FROM orders
)
SELECT bucket,
       bucket * 50000 AS bucket_lo_usd,
       COUNT(*) AS n_orders,
       FLOOR((COUNT(*) * 1.0 / (SELECT COUNT(*) FROM orders)) * 10000 + 0.5) / 10000 AS share
FROM b
GROUP BY bucket
ORDER BY bucket
""",
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram ($50k buckets over o_totalprice) with
    share-of-total — the profiling/EDA shape behind every distribution
    chart. Buckets are computed on EXACT integer cents
    (floor(x*100+0.5)), so boundary values land in the same bin on every
    engine; the share is a single double division of two integers.

    Scale: map-side bucket projection, one hash agg keyed by ~10
    buckets (tiny shuffle), total broadcast-joined. At 100 TB this is
    scan-bound — exactly what you want from a histogram.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    bucket = F.floor(cents / F.lit(5000000.0)).cast("long")
    tot = o.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (F.col("bucket") * 50000).alias("bucket_lo_usd"),
            "n_orders",
            rnd(F.col("n_orders") / F.col("n_total"), 4).alias("share"),
        )
        .orderBy("bucket")
    )

@query(
    "monthly_deviation",
    """
WITH monthly AS (
  SELECT n.n_name AS nation, strftime(o.o_orderdate, '%Y-%m') AS month,
         SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
w AS (
  SELECT nation, month, rev_cents,
         SUM(rev_cents) OVER (PARTITION BY nation ORDER BY month
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS sum3,
         COUNT(*) OVER (PARTITION BY nation ORDER BY month
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS cnt3
  FROM monthly
)
SELECT nation, month,
       FLOOR((rev_cents / 100.0) * 100 + 0.5) / 100 AS revenue,
       FLOOR(((3 * rev_cents - sum3) / 300.0) * 100 + 0.5) / 100 AS dev_vs_3mo_avg
FROM w
WHERE cnt3 = 3
ORDER BY nation, month
""",
)
def monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deviation from the centered 3-month moving average, per nation
    (TPC-DS q47's shape: rollup -> centered window -> deviation).
    The deviation is computed ENTIRELY in integer cents
    (3*rev - sum3 over a ROWS frame), so window-frame accumulation
    order can't flip the hash; only the final /300.0 is floating.

    Scale: star join (dims broadcast) -> monthly hash agg (map-side
    partials, one shuffle on (nation, month)) -> window partitioned by
    nation (25 partitions — fine; a high-cardinality partition key
    would need no change, the shuffle IS the partitioning).
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev_cents")
        )
    )
    w3 = Window.partitionBy("nation").orderBy("month").rowsBetween(-1, 1)
    return (
        monthly.withColumn("sum3", F.sum("rev_cents").over(w3))
        .withColumn("cnt3", F.count(F.lit(1)).over(w3))
        .filter(F.col("cnt3") == 3)
        .select(
            "nation",
            "month",
            rnd(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            rnd((3 * F.col("rev_cents") - F.col("sum3")) / 300.0, 2).alias(
                "dev_vs_3mo_avg"
            ),
        )
        .orderBy("nation", "month")
    )

@query(
    "hourly_band_counts",
    """
SELECT
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 0 AND 2 THEN 1 ELSE 0 END) AS BIGINT) AS h00_02,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 3 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS h03_05,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 6 AND 8 THEN 1 ELSE 0 END) AS BIGINT) AS h06_08,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 9 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS h09_11,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 12 AND 14 THEN 1 ELSE 0 END) AS BIGINT) AS h12_14,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 15 AND 17 THEN 1 ELSE 0 END) AS BIGINT) AS h15_17,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 20 THEN 1 ELSE 0 END) AS BIGINT) AS h18_20,
  CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) BETWEEN 21 AND 23 THEN 1 ELSE 0 END) AS BIGINT) AS h21_23
FROM events
""",
)
def hourly_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight time-of-day band counts in ONE scan (TPC-DS q88's shape —
    q88 does it as 8 self-joined subqueries; conditional aggregation
    collapses them into a single pass, an 8x scan reduction).

    Scale: pure map-side conditional counts; the shuffle carries 8
    longs per mapper. This is the canonical 'express it as one agg,
    not N scans' rewrite that matters most at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    h = F.hour("ts")

    def band(lo: int, hi: int, name: str):
        return F.sum(
            F.when(h.between(lo, hi), 1).otherwise(0)
        ).alias(name)

    return ev.agg(
        band(0, 2, "h00_02"),
        band(3, 5, "h03_05"),
        band(6, 8, "h06_08"),
        band(9, 11, "h09_11"),
        band(12, 14, "h12_14"),
        band(15, 17, "h15_17"),
        band(18, 20, "h18_20"),
        band(21, 23, "h21_23"),
    )

@query(
    "cumulative_daily_share",
    """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(o_orderdate AS DATE) AS order_date,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS day_cents
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 2000
  GROUP BY 1, 2
)
SELECT month, order_date,
       FLOOR((day_cents / 100.0) * 100 + 0.5) / 100 AS day_rev,
       FLOOR((SUM(day_cents) OVER (PARTITION BY month ORDER BY order_date
                                   ROWS UNBOUNDED PRECEDING) / 100.0) * 100 + 0.5) / 100 AS run_rev,
       FLOOR((SUM(day_cents) OVER (PARTITION BY month ORDER BY order_date
                                   ROWS UNBOUNDED PRECEDING) * 1.0
              / SUM(day_cents) OVER (PARTITION BY month)) * 10000 + 0.5) / 10000 AS run_share
FROM daily
ORDER BY month, order_date
""",
)
def cumulative_daily_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-to-date running revenue and its share of the month total —
    two window frames (running ROWS sum + whole-partition sum) over one
    daily rollup. Both sums run on integer cents; each reported number
    is one integer->double division, so the hash is engine-stable.

    Scale: daily pre-agg shrinks the window input to ~365 rows/year
    BEFORE any sort; windows partition by month (12-way parallel).
    The pattern — aggregate first, window over the rollup — is the
    scale-survival rule for cumulative metrics.
    """
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 2000)
    daily = (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.to_date("o_orderdate").alias("order_date"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("day_cents")
        )
    )
    w_run = (
        Window.partitionBy("month")
        .orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("month")
    return (
        daily.withColumn("run_cents", F.sum("day_cents").over(w_run))
        .withColumn("tot_cents", F.sum("day_cents").over(w_all))
        .select(
            "month",
            "order_date",
            rnd(F.col("day_cents") / 100.0, 2).alias("day_rev"),
            rnd(F.col("run_cents") / 100.0, 2).alias("run_rev"),
            rnd(F.col("run_cents") / F.col("tot_cents"), 4).alias("run_share"),
        )
        .orderBy("month", "order_date")
    )

@query(
    "rollup_rank",
    """
WITH r AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS lvl,
         GROUPING(o_orderpriority) AS gp,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
)
SELECT status, priority, lvl,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       RANK() OVER (
         PARTITION BY lvl, CASE WHEN gp = 0 THEN status END
         ORDER BY cents DESC, priority ASC NULLS FIRST, status ASC NULLS FIRST
       ) AS rnk
FROM r
ORDER BY lvl, status NULLS LAST, rnk
""",
)
def rollup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank within each hierarchy level of a ROLLUP (TPC-DS q36 shape):
    detail rows rank priorities *within their parent status*, subtotal
    rows rank statuses against each other, and the grand total stands
    alone — the partition key mixes ``grouping()`` metadata with a
    parent column that is NULL above the detail level.

    Determinism: revenue is compared as exact scaled-long cents (sum of
    longs is order-independent), and the rank order carries a total
    tie-break (cents desc, priority, status) with explicit null
    placement — Spark defaults ASC to NULLS FIRST, DuckDB to NULLS
    LAST, so the window spells it out.

    Scale: one hash agg produces all grouping sets via partial
    expansion; the rank window runs over the tiny aggregate (statuses x
    priorities + subtotals), never the fact table.
    """
    o = load(spark, sf_dir, "orders")
    cents_item = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    r = o.rollup("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") + F.grouping("o_orderpriority")).alias("lvl"),
        F.grouping("o_orderpriority").alias("gp"),
        F.sum(cents_item).alias("cents"),
    )
    w = (
        Window.partitionBy(
            "lvl", F.when(F.col("gp") == 0, F.col("o_orderstatus"))
        ).orderBy(
            F.col("cents").desc(),
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )
    return (
        r.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "lvl",
            (F.col("cents").cast("double") / 100).alias("revenue"),
            F.rank().over(w).alias("rnk"),
        )
        .orderBy("lvl", F.col("status").asc_nulls_last(), "rnk")
    )

@query(
    "cumulative_crossover",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS view_c,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS click_c
  FROM events
  GROUP BY 1
),
cum AS (
  SELECT date,
         CAST(SUM(view_c) OVER (ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cv,
         CAST(SUM(click_c) OVER (ORDER BY date
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM daily
)
SELECT date,
       CAST(cv AS DOUBLE) / 100 AS cum_view_value,
       CAST(cc AS DOUBLE) / 100 AS cum_click_value,
       (cc * 3 > cv) AS clicks_ahead
FROM cum
ORDER BY date
""",
)
def cumulative_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two cumulative series compared day by day (TPC-DS q51 shape):
    running view-value vs running click-value totals, with a crossover
    flag where the (scaled) click series overtakes views.

    Determinism: daily sums and both running totals accumulate as
    scaled-long cents — integer addition is order-independent, so
    Spark's running frame and DuckDB's segment-tree window produce
    identical values, and the crossover comparison is integer-exact.

    Scale: one hash agg to date grain first; the unbounded-preceding
    window then runs over ~days rows in a single partition, which is
    the correct trade (cumulative-over-time is inherently sequential —
    keep its input tiny, never window the raw events).
    """
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    zero = F.lit(0).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum(F.when(F.col("event_type") == "view", cents).otherwise(zero)).alias("view_c"),
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(zero)).alias("click_c"),
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "date",
        F.sum("view_c").over(w).alias("cv"),
        F.sum("click_c").over(w).alias("cc"),
    )
    return cum.select(
        "date",
        (F.col("cv").cast("double") / 100).alias("cum_view_value"),
        (F.col("cc").cast("double") / 100).alias("cum_click_value"),
        (F.col("cc") * 3 > F.col("cv")).alias("clicks_ahead"),
    ).orderBy("date")

_WD_NAMES = ["mon", "tue", "wed", "thu", "fri", "sat", "sun"]

_WD_PIV_COLS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN dow = {i + 1} THEN cents END) AS BIGINT) AS {n}"
    for i, n in enumerate(_WD_NAMES)
)

_WD_OUT_COLS = ",\n       ".join(
    f"CAST(c.{n} AS DOUBLE) / 100 AS {n}_rev,\n       "
    f"FLOOR((CAST(c.{n} AS DOUBLE) / CAST(NULLIF(p.{n}, 0) AS DOUBLE)) * 10000 + 0.5) / 10000 AS {n}_ratio"
    for n in _WD_NAMES
)

_WEEKDAY_YOY_SQL = f"""
WITH wd AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         EXTRACT(isodow FROM o_orderdate) AS dow,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  GROUP BY 1, 2
),
piv AS (
  SELECT o_year,
         {_WD_PIV_COLS}
  FROM wd
  GROUP BY o_year
)
SELECT c.o_year,
       {_WD_OUT_COLS}
FROM piv c
JOIN piv p ON p.o_year = c.o_year - 1
ORDER BY c.o_year
"""

@query("weekday_yoy", _WEEKDAY_YOY_SQL)
def weekday_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday revenue pivoted wide, each year self-joined against
    the previous year for a per-weekday growth ratio (TPC-DS q59
    shape): agg -> pivot -> self-join on shifted key -> columnwise
    ratios.

    Determinism: weekday via ISO day-of-week (Spark ``weekday()+1`` ==
    DuckDB ``isodow``; plain ``dayofweek``/``dow`` disagree on the week
    origin). Revenue sums stay scaled-long cents; ratios divide exact
    long-derived doubles and round with the shared floor formula. A
    ``NULLIF`` guard keeps never-sold weekdays NULL instead of inf.

    Scale: the pivot runs over (year x 7) pre-aggregated rows and the
    self-join is a broadcast over ~years rows; only the first hash agg
    touches the fact table. ``pivot()`` is given the weekday values
    explicitly, so no extra distinct-scan pass.
    """
    o = load(spark, sf_dir, "orders")
    cents_item = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    wd = o.groupBy(
        F.year("o_orderdate").alias("o_year"),
        (F.weekday("o_orderdate") + 1).alias("dow"),
    ).agg(F.sum(cents_item).alias("cents"))
    piv = (
        wd.groupBy("o_year")
        .pivot("dow", list(range(1, 8)))
        .agg(F.sum("cents"))
    )
    for i, n in enumerate(_WD_NAMES):
        piv = piv.withColumnRenamed(str(i + 1), n)
    c, p = piv.alias("c"), piv.alias("p")
    joined = c.join(
        F.broadcast(p), F.col("p.o_year") == F.col("c.o_year") - 1, "inner"
    )
    cols = [F.col("c.o_year").alias("o_year")]
    for n in _WD_NAMES:
        cur = F.col(f"c.{n}").cast("double")
        prev = F.when(F.col(f"p.{n}") != 0, F.col(f"p.{n}")).cast("double")
        cols.append((cur / 100).alias(f"{n}_rev"))
        cols.append(rnd(cur / prev, 4).alias(f"{n}_ratio"))
    return joined.select(*cols).orderBy("o_year")

@query(
    "event_mix_drift",
    """
WITH per_type AS (
  SELECT event_type,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_b
  FROM events
  GROUP BY event_type
),
tot AS (
  SELECT event_type, n_a, n_b,
         SUM(n_a) OVER () AS tot_a, SUM(n_b) OVER () AS tot_b
  FROM per_type
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       FLOOR((
           CAST(n_a * (tot_a + tot_b) - tot_a * (n_a + n_b) AS DOUBLE)
             * CAST(n_a * (tot_a + tot_b) - tot_a * (n_a + n_b) AS DOUBLE)
             / CAST((tot_a + tot_b) * tot_a * (n_a + n_b) AS DOUBLE)
         + CAST(n_b * (tot_a + tot_b) - tot_b * (n_a + n_b) AS DOUBLE)
             * CAST(n_b * (tot_a + tot_b) - tot_b * (n_a + n_b) AS DOUBLE)
             / CAST((tot_a + tot_b) * tot_b * (n_a + n_b) AS DOUBLE)
       ) * 1000000 + 0.5) / 1000000 AS chi2_part
FROM tot
ORDER BY event_type
""",
)
def event_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detector: chi-square homogeneity contribution
    per event_type between the first and second half of the month (the
    train-vs-serve data-drift check a training pipeline runs before
    every refresh). The 2xk contingency algebra is rearranged so every
    intermediate is an exact integer — contribution =
    (O*N - P*T)^2 / (N*P*T) per cell — and the only float ops are two
    correctly-rounded IEEE divisions, one multiply each, and one
    fixed-order addition; bit-identical across engines, then rounded.

    Scale: one conditional-count aggregation over the fact table (the
    period split is a map-side CASE, not two scans), then the grand
    totals come from an unpartitioned window over the k-row per-type
    relation — NOT a self-join back onto the agg, which would duplicate
    the scan+agg subtree in the compile-time plan. The single-partition
    window exchange moves k rows (one per event_type), not N; the
    expensive part is exactly one shuffle keyed on event_type.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_type = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("n_b"),
    )
    w = Window.partitionBy()
    tot = per_type.select(
        "event_type",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("tot_a"),
        F.sum("n_b").over(w).alias("tot_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    tot_a, tot_b = F.col("tot_a"), F.col("tot_b")
    grand = tot_a + tot_b
    tt = n_a + n_b
    da = (n_a * grand - tot_a * tt).cast("double")
    db = (n_b * grand - tot_b * tt).cast("double")
    chi2 = da * da / (grand * tot_a * tt).cast("double") + db * db / (
        grand * tot_b * tt
    ).cast("double")
    return tot.select(
        "event_type",
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        rnd(chi2, 6).alias("chi2_part"),
    ).orderBy("event_type")

@query(
    "value_outliers_mad",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(MIN(d.med) * 10000 + 0.5) / 10000 AS med,
       FLOOR(MIN(m.mad) * 10000 + 0.5) / 10000 AS mad,
       CAST(SUM(CASE WHEN d.adev > 5 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       FLOOR(CAST(SUM(CASE WHEN d.adev > 5 * m.mad THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000 AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median / MAD (median
    absolute deviation) instead of mean / stddev, so the thresholds
    themselves aren't dragged by the outliers being hunted. A value is
    an outlier when |v - median| > 5·MAD. Medians are order statistics
    (linear interpolation, engine-exact), so the unrounded threshold
    comparison is bit-identical across engines — no epsilon needed.

    Scale: exact MAD is inherently two passes (median of deviations
    from the median); both per-type median relations are k rows and
    broadcast back onto the fact scan, so the cost is two scans + two
    tiny exchanges, never a fact-fact shuffle. For one-pass at 100 TB
    swap in approx_percentile (see approx_stats).
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    out_flag = F.when(F.col("adev") > 5 * F.col("mad"), 1).otherwise(0)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.min("med"), 4).alias("med"),
            rnd(F.min("mad"), 4).alias("mad"),
            F.sum(out_flag).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "med",
            "mad",
            "n_outliers",
            rnd(
                F.col("n_outliers").cast("double") / F.col("n"), 6
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )

@query(
    "value_quantile_drift",
    """
WITH q AS (
  SELECT event_type,
         quantile_cont(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN value END, 0.5) AS p50_a,
         quantile_cont(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value END, 0.5) AS p50_b,
         quantile_cont(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00' THEN value END, 0.9) AS p90_a,
         quantile_cont(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value END, 0.9) AS p90_b
  FROM events
  GROUP BY event_type
)
SELECT event_type,
       FLOOR(p50_a * 10000 + 0.5) / 10000 AS p50_a,
       FLOOR(p50_b * 10000 + 0.5) / 10000 AS p50_b,
       FLOOR(p90_a * 10000 + 0.5) / 10000 AS p90_a,
       FLOOR(p90_b * 10000 + 0.5) / 10000 AS p90_b,
       FLOOR((FLOOR(p50_b * 10000 + 0.5) / 10000 - FLOOR(p50_a * 10000 + 0.5) / 10000) * 10000 + 0.5) / 10000 AS d50,
       FLOOR((FLOOR(p90_b * 10000 + 0.5) / 10000 - FLOOR(p90_a * 10000 + 0.5) / 10000) * 10000 + 0.5) / 10000 AS d90
FROM q
ORDER BY event_type
""",
)
def value_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift: p50/p90 of `value` per event_type in the
    first vs second half of the month and their shifts — the continuous
    twin of event_mix_drift's categorical chi-square. Conditional
    percentiles (percentile over a CASE that nulls the other period)
    give both periods in ONE scan and one shuffle; deltas subtract the
    already-rounded quantiles so both engines difference identical
    doubles.

    Scale: single pass over the fact table, partial-agg by event_type;
    the percentile state per group is the sorted value buffer — at
    100 TB grouplessly swap in approx_percentile's fixed-size sketch.
    """
    ev = load(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    in_a = F.when(F.col("ts") < split, F.col("value"))
    in_b = F.when(F.col("ts") >= split, F.col("value"))
    q = ev.groupBy("event_type").agg(
        rnd(F.percentile(in_a, F.lit(0.5)), 4).alias("p50_a"),
        rnd(F.percentile(in_b, F.lit(0.5)), 4).alias("p50_b"),
        rnd(F.percentile(in_a, F.lit(0.9)), 4).alias("p90_a"),
        rnd(F.percentile(in_b, F.lit(0.9)), 4).alias("p90_b"),
    )
    return q.select(
        "event_type",
        "p50_a",
        "p50_b",
        "p90_a",
        "p90_b",
        rnd(F.col("p50_b") - F.col("p50_a"), 4).alias("d50"),
        rnd(F.col("p90_b") - F.col("p90_a"), 4).alias("d90"),
    ).orderBy("event_type")

@query(
    "sketch_rollup_weekly_users",
    """
SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_ok
FROM events
GROUP BY 1
ORDER BY 1
""",
)
def sketch_rollup_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-DAY HLL sketches of user_id, merged
    upward with hll_union_agg to weekly distinct-user estimates. This is
    the 100 TB pattern exact COUNT(DISTINCT) cannot follow — distincts
    don't add across days, so every exact weekly/monthly/arbitrary-range
    rollup rescans raw events, while stored daily sketches (a few KB
    each, append-only alongside the gold table) merge to ANY range in
    milliseconds. The estimate is engine-specific, so (approx_stats
    contract) the output carries exact weekly distincts both engines
    compute plus a boolean asserting the merged estimate landed within
    5% of exact (HLL lgConfigK=12 ~ 1.6% rsd; a wild sketch flips the
    boolean and fails the driver hash).

    Scale: daily sketching is one partial-agg pass (sketch state merges
    map-side); the weekly union touches #days rows. The exact side here
    exists only to verify the estimate.
    """
    ev = load(spark, sf_dir, "events")
    daily_sk = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    wk = daily_sk.groupBy(
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week_start")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        exact.join(wk, "week_start")
        .select(
            "week_start",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_ok"),
        )
        .orderBy("week_start")
    )

@query(
    "kll_rollup_value_quantiles",
    """
SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
       COUNT(*) AS n,
       FLOOR((quantile_cont(value, 0.5)) * 10000 + 0.5) / 10000 AS p50_exact,
       FLOOR((quantile_cont(value, 0.95)) * 10000 + 0.5) / 10000 AS p95_exact,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM events
GROUP BY 1
ORDER BY 1
""",
)
def kll_rollup_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (DataSketches KLL, Spark 4 builtin):
    per-day kll_sketch_agg_double over event values, merged upward with
    kll_merge_agg_double to weekly p50/p95 estimates — the quantile
    sibling of the HLL rollup. Exact percentiles don't merge across
    days (a median of medians is not the median); stored daily KLL
    sketches merge to ANY range with bounded rank error (~1.7% at
    default k), so a 100 TB pipeline answers latency/size percentile
    dashboards without rescanning raw events.

    Estimates are engine-specific (approx_stats contract): the output
    carries exact weekly percentiles both engines compute, plus
    booleans asserting each merged estimate's VALUE lies inside the
    exact [p40,p60] / [p90,p99] bracket — a rank-error claim far looser
    than KLL's guarantee, so a healthy sketch always passes and a
    broken merge flips the hash.
    """
    ev = load(spark, sf_dir, "events")
    daily_sk = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )
    wk = daily_sk.groupBy(
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start")
    ).agg(F.kll_merge_agg_double("sk").alias("sk"))
    wk = wk.select(
        "week_start",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95_est"),
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("ep50"),
        F.expr("percentile(value, 0.95)").alias("ep95"),
        F.expr("percentile(value, 0.4)").alias("ep40"),
        F.expr("percentile(value, 0.6)").alias("ep60"),
        F.expr("percentile(value, 0.9)").alias("ep90"),
        F.expr("percentile(value, 0.99)").alias("ep99"),
    )
    return (
        exact.join(wk, "week_start")
        .select(
            "week_start",
            "n",
            rnd(F.col("ep50"), 4).alias("p50_exact"),
            rnd(F.col("ep95"), 4).alias("p95_exact"),
            F.col("p50_est").between(F.col("ep40"), F.col("ep60")).alias("p50_ok"),
            F.col("p95_est").between(F.col("ep90"), F.col("ep99")).alias("p95_ok"),
        )
        .orderBy("week_start")
    )

@query(
    "theta_user_overlap",
    """
WITH f AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
  FROM events
  GROUP BY user_id
)
SELECT CAST(SUM(v) AS BIGINT) AS n_view,
       CAST(SUM(c) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN v = 1 AND c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN v = 1 OR c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_either,
       CAST(SUM(CASE WHEN v = 1 AND c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_only,
       TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
FROM f
""",
)
def theta_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Spark 4 builtin) for distinct-set ALGEBRA:
    |viewers ∩ clickers|, |viewers ∪ clickers|, |viewers \\ clickers|
    estimated from two per-segment sketches — the operation HLL cannot
    do (HLL unions only; intersections need inclusion-exclusion with
    compounding error, theta supports them natively). At 100 TB the
    audience-overlap question ("how many users did both X and Y") runs
    on stored per-segment sketches instead of a users×segments join.

    Exact sides both engines compute (one conditional-flag aggregation
    per user — a single shuffle); booleans assert each estimate within
    max(2, 15%) of exact.
    """
    ev = load(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
    )
    exact = flags.agg(
        F.sum("v").cast("long").alias("n_view"),
        F.sum("c").cast("long").alias("n_click"),
        F.sum(((F.col("v") == 1) & (F.col("c") == 1)).cast("int"))
        .cast("long").alias("n_both"),
        F.sum(((F.col("v") == 1) | (F.col("c") == 1)).cast("int"))
        .cast("long").alias("n_either"),
        F.sum(((F.col("v") == 1) & (F.col("c") == 0)).cast("int"))
        .cast("long").alias("n_view_only"),
    )
    th = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("th"))
    )
    a = th.filter(F.col("event_type") == "view").select(F.col("th").alias("tha"))
    b = th.filter(F.col("event_type") == "click").select(F.col("th").alias("thb"))
    est = a.crossJoin(b).select(
        F.theta_sketch_estimate(F.theta_intersection("tha", "thb")).alias("e_inter"),
        F.theta_sketch_estimate(F.theta_union("tha", "thb")).alias("e_union"),
        F.theta_sketch_estimate(F.theta_difference("tha", "thb")).alias("e_diff"),
    )

    def ok(est_col: str, exact_col: str) -> Column:
        tol = F.greatest(F.lit(2.0), 0.15 * F.col(exact_col))
        return (F.abs(F.col(est_col) - F.col(exact_col)) <= tol)

    return exact.crossJoin(F.broadcast(est)).select(
        "n_view", "n_click", "n_both", "n_either", "n_view_only",
        ok("e_inter", "n_both").alias("inter_ok"),
        ok("e_union", "n_either").alias("union_ok"),
        ok("e_diff", "n_view_only").alias("diff_ok"),
    )

@query(
    "cms_user_freq",
    """
WITH counts AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id)
SELECT user_id, n_exact, TRUE AS lower_ok, TRUE AS upper_ok
FROM (
  SELECT user_id, n_exact,
         ROW_NUMBER() OVER (ORDER BY n_exact DESC, user_id) AS r
  FROM counts
)
WHERE r <= 10
ORDER BY user_id
""",
)
def cms_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point-frequency estimates for the top-10 most
    active users, error-bounded against exact counts in one plan — the
    FREQUENCY member of the mergeable-sketch tier (HLL distincts, KLL
    quantiles, theta set algebra, and now CMS counts;
    operators/sketches.py).

    Where Misra-Gries (heavy_hitter_users) needs its recount pass
    planned up front, a stored CMS answers point queries over keys
    chosen AFTER the scan from a fixed (depth×width) artifact, and
    per-day CMS matrices ADD into any range — dashboards at 100 TB
    probe stored sketches, not raw events.

    Oracle contract (approx_stats pattern): exact counts both engines
    compute, plus the CMS guarantees as booleans — lower_ok is the
    HARD one-sided bound (estimate ≥ exact, always true for a correct
    build), upper_ok the εN overshoot cap (ε = e/width) that holds
    w.h.p. and is measured stable at sf 0.001/0.01/0.1.
    """
    import math

    from etl_weather_spark.operators.sketches import cms_build, cms_estimate

    ev = load(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", depth=5, width=2048)

    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.orderBy(F.col("n_exact").desc(), F.col("user_id"))
    top = counts.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 10)
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    bound = F.ceil(F.lit(math.e / 2048) * F.col("n_total"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("est", cms_estimate(F.col("user_id"), cms))
        .select(
            "user_id",
            "n_exact",
            (F.col("est") >= F.col("n_exact")).alias("lower_ok"),
            (F.col("est") <= F.col("n_exact") + bound).alias("upper_ok"),
        )
        .orderBy("user_id")
    )

@query(
    "rolling_distinct_users_7d",
    """
WITH dau AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM dau)
SELECT a.d AS date, COUNT(DISTINCT b.user_id) AS rolling_users
FROM days a JOIN dau b ON b.d BETWEEN a.d - 6 AND a.d
GROUP BY a.d
ORDER BY a.d
""",
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the rolling-MAU
    shape. Exact distinct counts can't ride a window frame (no
    count_distinct over windows) and a date-range join amplifies
    unboundedly, so the engine inverts the window: each (day, user)
    activity row is EXPLODED to the <=7 window-end days it contributes
    to (fixed 7x map-side amplification, no join), de-duplicated, and
    counted per window day; a broadcast semi-join to observed days
    drops windows that end on day gaps, matching the oracle's
    days-driven range join.

    Scale: DAU distinct-ize bounds the explode input to (days x users),
    not raw events; the 7x amplification is a constant, not data-
    dependent; both shuffles key on (day, user) / day. The oracle's
    BETWEEN join is the readable formulation — at 100 TB it would fan
    each day's probe across every activity row; the explode form is the
    one that survives.
    """
    ev = load(spark, sf_dir, "events")
    dau = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = (
        dau.select(
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("wd"),
            "user_id",
        )
        .distinct()
    )
    days = dau.select("d").distinct()
    rolled = contrib.groupBy("wd").agg(F.count(F.lit(1)).alias("rolling_users"))
    return (
        rolled.join(F.broadcast(days), rolled["wd"] == days["d"])
        .select(F.col("d").alias("date"), "rolling_users")
        .orderBy("date")
    )

@query(
    "event_pattern_match",
    """
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
  FROM events
  GROUP BY user_id
)
SELECT (journey LIKE '%vcp%') AS direct_conversion,
       (journey LIKE '%pep%') AS purchase_error_repurchase,
       (journey LIKE '%vvcc%') AS double_view_double_click,
       COUNT(*) AS n_users,
       FLOOR(AVG(length(journey)) * 100 + 0.5) / 100 AS avg_events
FROM j
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: compress each user's time-ordered event
    stream into a journey string (one char per event) and pattern-match
    it — three patterns at once: a CONTIGUOUS view-click-purchase run
    ('vcp'), purchase-error-repurchase ('pep'), and double-view-double-
    click ('vvcc'). String-encoding per-key timelines turns arbitrary
    sequence patterns into regex/LIKE, the poor man's CEP that covers
    most funnel/path questions in one shuffle; contiguity (which plain
    relational funnels can't express without N self-joins) is free.

    Determinism: the per-user ordering is total — (ts, event_id) — via
    array_sort over structs, so the journey string is unique and both
    engines agree byte-for-byte (string_agg ORDER BY on the oracle
    side).

    Scale: one shuffle on user_id; per-user state is the event-initial
    string (bytes per event). For pathological users cap with
    slice(..., 1, N) before the join — pattern prefixes are usually
    what's analyzed. The LIKE runs over the journey table (#users
    rows), not raw events.
    """
    ev = load(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(
            F.struct(F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("c"))
        )
    )
    j = ev.groupBy("user_id").agg(
        F.array_join(F.transform(ordered, lambda x: x["c"]), "").alias("journey")
    )
    return (
        j.select(
            F.col("journey").like("%vcp%").alias("direct_conversion"),
            F.col("journey").like("%pep%").alias("purchase_error_repurchase"),
            F.col("journey").like("%vvcc%").alias("double_view_double_click"),
            F.length("journey").alias("jl"),
        )
        .groupBy(
            "direct_conversion", "purchase_error_repurchase", "double_view_double_click"
        )
        .agg(F.count(F.lit(1)).alias("n_users"), rnd(F.avg("jl"), 2).alias("avg_events"))
        .orderBy(
            "direct_conversion", "purchase_error_repurchase", "double_view_double_click"
        )
    )

def _doc_piece_stats(tok: DataFrame, seg: DataFrame) -> DataFrame:
    """Per-doc token accounting from a (word, n_pieces) segmentation:
    the token stream never re-encodes — it joins the vocab-sized
    segmentation by word."""
    return (
        tok.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_pieces").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_pieces",
            F.expr("(10000 * n_pieces) div n_words").alias("pieces_per_word_1e4"),
        )
        .orderBy("doc_id")
    )

#: engine-portable hash bucket 0..255 from the first two hex nibbles of
#: md5 — only substr/instr/md5, identical semantics in Spark SQL and
#: DuckDB (same trick as operators/dedup._md5_bit_sql), so the SAME
#: text runs on both engines and the bucket IDENTITY (not just its use
#: as a join key) is oracle-replayable.
_MD5_BUCKET_SQL = (
    "((instr('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(bg), 2, 1)) - 1))"
)

@query(
    "mad_outlier_docs",
    """
WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x
           FROM documents WHERE n_chars IS NOT NULL),
hist AS (SELECT source, x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
cum AS (
  SELECT source, x, c,
         SUM(c) OVER (PARTITION BY source ORDER BY x) AS cc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist
),
med AS (SELECT source, MIN(x) AS med FROM cum WHERE 2 * cc >= n GROUP BY source),
dev AS (
  SELECT d.source, ABS(d.x - m.med) AS dv, CAST(COUNT(*) AS BIGINT) AS c
  FROM d JOIN med m ON m.source = d.source GROUP BY 1, 2
),
dcum AS (
  SELECT source, dv, c,
         SUM(c) OVER (PARTITION BY source ORDER BY dv) AS cc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM dev
),
mad AS (SELECT source, MIN(dv) AS mad FROM dcum WHERE 2 * cc >= n GROUP BY source)
SELECT d.doc_id, d.source, d.x AS n_chars, m.med, a.mad,
       FLOOR((ABS(d.x - m.med) / (1.4826 * GREATEST(a.mad, 1)))
             * 1000000 + 0.5) / 1000000 AS robust_z6,
       (FLOOR((ABS(d.x - m.med) / (1.4826 * GREATEST(a.mad, 1)))
              * 1000000 + 0.5) / 1000000 > 3.5) AS is_outlier
FROM d JOIN med m ON m.source = d.source JOIN mad a ON a.source = d.source
ORDER BY d.doc_id
""",
)
def mad_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier detection: median + MAD (median
    absolute deviation) robust z-score over n_chars, the classic
    heavy-tail-safe alternative to mean/stddev gates (one 10 MB crawl
    artifact shifts a mean filter corpus-wide; it moves a median not at
    all). is_outlier = robust z > 3.5, the standard Iglewicz-Hoaglin
    cut with the 1.4826 normal-consistency constant.

    Both medians are computed from QUANTIZED HISTOGRAMS, not sorts:
    counts per (source, value), cumulative sum over the
    distinct-VALUE relation, median = first value with 2·cum ≥ n. The
    windows run over the histogram (bounded by value cardinality, not
    row count), so no per-source full-corpus sort exists anywhere —
    the trick that makes exact medians tractable at 100 TB where
    percentile aggs buffer whole groups.
    """
    return _mad_outlier_core(load(spark, sf_dir, "documents"))

def _source_value_cum(df: DataFrame, val: str) -> DataFrame:
    """(source, val, cc, n): per-source cumulative value histogram —
    the ONE median/percentile machinery shared by mad_outlier_docs and
    length_percentiles_by_source. Windows run over the distinct-VALUE
    relation only. NULL values carry no mass (filtered here and by
    IS NOT NULL in the SQL twins): Spark's window orderBy sorts NULLs
    FIRST while DuckDB's ORDER BY sorts them LAST, so an unfiltered
    NULL would shift every cumulative count by one rank cross-engine.
    """
    hist = (
        df.filter(F.col(val).isNotNull())
        .groupBy("source", val)
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wc = Window.partitionBy("source").orderBy(val)
    wn = Window.partitionBy("source")
    return hist.select(
        "source",
        F.col(val),
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wn).alias("n"),
    )

def _mad_outlier_core(docs: DataFrame) -> DataFrame:
    """mad_outlier_docs on an arbitrary documents relation — the
    median/MAD statistics re-fit on whatever corpus is passed in."""
    # a doc without a length cannot be length-gated: NULL x rows are
    # excluded entirely (both engines), not passed through as NULL z
    d = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    ).filter(F.col("x").isNotNull())

    def hist_median(df: DataFrame, val: str, out: str) -> DataFrame:
        return (
            _source_value_cum(df, val)
            .filter(2 * F.col("cc") >= F.col("n"))
            .groupBy("source")
            .agg(F.min(val).alias(out))
        )

    med = hist_median(d, "x", "med")
    dm = d.join(med, "source").withColumn("dv", F.abs(F.col("x") - F.col("med")))
    mad = hist_median(dm.select("source", "dv"), "dv", "mad")
    z6 = rnd(
        F.abs(F.col("x") - F.col("med"))
        / (F.lit(1.4826) * F.greatest(F.col("mad"), F.lit(1))),
        6,
    )
    return (
        d.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .select(
            "doc_id",
            "source",
            F.col("x").alias("n_chars"),
            "med",
            "mad",
            z6.alias("robust_z6"),
            (z6 > 3.5).alias("is_outlier"),
        )
        .orderBy("doc_id")
    )

#: engine-portable deterministic 25% doc sample: first md5 hex nibble
#: of the STRINGIFIED doc_id in 0..3 — identical strings, identical
#: md5, identical sample membership in Spark SQL and DuckDB
_DOC_SAMPLE_SQL = (
    "(instr('0123456789abcdef',"
    " substr(md5(cast(doc_id as string)), 1, 1)) - 1) < 4"
)

@query(
    "ks_drift_audit",
    """
WITH d AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS side
  FROM documents
),
h AS (
  SELECT x,
         CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM d GROUP BY x
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM h
),
cum AS (
  SELECT h.x,
         SUM(h.ca) OVER (ORDER BY h.x) AS cca,
         SUM(h.cb) OVER (ORDER BY h.x) AS ccb,
         t.na, t.nb
  FROM h CROSS JOIN tot t
),
gaps AS (
  SELECT x,
         FLOOR(ABS(cca * 1.0 / na - ccb * 1.0 / nb) * 1000000 + 0.5) / 1000000
           AS gap6
  FROM cum
)
SELECT MAX(gap6) AS ks_stat6,
       CAST((SELECT na FROM tot) AS BIGINT) AS n_a,
       CAST((SELECT nb FROM tot) AS BIGINT) AS n_b,
       (MAX(gap6) > 0.2) AS drifted
FROM gaps
""",
)
def ks_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detector: the two-sample Kolmogorov-Smirnov
    statistic (max CDF gap) between one source's document-length
    distribution and the rest of the corpus — the monitoring check a
    continuously-ingesting pipeline runs per batch to catch a crawler
    or upstream format change before it skews training mixtures.

    D = max_x |F_a(x) − F_b(x)| computed from QUANTIZED HISTOGRAMS:
    per-value counts for both sides in one pass, one cumulative window
    over the distinct-VALUE relation (bounded by value cardinality,
    never a row sort — the mad_outlier_docs trick), gaps rounded at
    6 dp before the max so both engines agree exactly.

    Scale: one (value)-keyed partial agg over the corpus + a window
    over the tiny histogram; output is one row.
    """
    from etl_weather_spark.operators.ks import ks_from_histograms

    docs = load(spark, sf_dir, "documents")

    def hist(side_filter):
        return (
            docs.filter(side_filter)
            .select(F.col("n_chars").cast("long").alias("x"))
            .groupBy("x")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    return ks_from_histograms(
        hist(F.col("source") == "src0"),
        hist(F.col("source") != "src0"),
        threshold=0.2,
    )

def _ensemble_rank_block(tag: str, inner: str, score_expr: str, desc: bool) -> str:
    """CTE block computing an exact global rank WITHOUT a global row
    sort: histogram over the 3-dp-quantized score (bounded distinct-
    value relation), cumulative count over the value relation, then
    rank = better-valued count + row_number within the tied value
    (partitioned by value — bounded partitions). The ks/mad histogram
    discipline applied to ranking."""
    d = "DESC" if desc else "ASC"
    return f"""sv{tag} AS (
  SELECT doc_id, FLOOR(({score_expr}) * 1000 + 0.5) / 1000 AS s
  FROM ({inner}
  )
),
h{tag} AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM sv{tag} GROUP BY s),
cb{tag} AS (SELECT s, SUM(c) OVER (ORDER BY s {d}) - c AS cum_before FROM h{tag}),
r{tag} AS (
  SELECT sv.doc_id,
         CAST(cb.cum_before
              + ROW_NUMBER() OVER (PARTITION BY sv.s ORDER BY sv.doc_id)
              AS BIGINT) AS rnk
  FROM sv{tag} sv JOIN cb{tag} cb ON cb.s = sv.s
)"""

def _scalable_rank(sv: DataFrame, *, desc: bool) -> DataFrame:
    """(doc_id, s) -> (doc_id, rnk): exact global rank with every
    window bounded BY CONSTRUCTION — the histogram cumulative trick
    for the value level, plus a bucketed two-level order WITHIN tied
    values (a 3-dp score can tie thousands of docs, so a plain
    row_number per value would sort a corpus-sized partition):

    rank = (# docs with better value)                 [value histogram]
         + (# same-value docs in earlier id-buckets)  [bucket histogram]
         + row_number within (value, id-bucket)       [≤ 4096 rows]

    The id bucket is ``doc_id div 4096`` — contiguous, so the
    bucket order IS the doc_id order and the three-part sum equals the
    single-window rank exactly (same total order; the oracle keeps the
    plain ROW_NUMBER form, like topk_per_group's)."""
    # two consumers (value histogram + bucketed relation) of a
    # multi-shuffle signal chain — fence once (measured 2x on the 30x
    # ensemble; unlike the cheap-explode case in containment_candidates
    # where recompute beat materialization)
    sv = fence(sv)
    h = sv.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy(F.col("s").desc() if desc else F.col("s").asc())
    cb = h.select("s", (F.sum("c").over(w) - F.col("c")).alias("cum_before"))
    svb = sv.withColumn(
        "b", F.floor(F.col("doc_id") / F.lit(4096)).cast("long")
    )
    bh = svb.groupBy("s", "b").agg(
        F.count(F.lit(1)).cast("long").alias("bc")
    )
    wb = Window.partitionBy("s").orderBy("b")
    bcum = bh.select(
        "s", "b", (F.sum("bc").over(wb) - F.col("bc")).alias("b_before")
    )
    wn = Window.partitionBy("s", "b").orderBy("doc_id")
    return (
        svb.join(bcum, ["s", "b"])
        .join(cb, "s")
        .select(
            "doc_id",
            (
                F.col("cum_before")
                + F.col("b_before")
                + F.row_number().over(wn)
            )
            .cast("long")
            .alias("rnk"),
        )
    )

@query(
    "length_percentiles_by_source",
    """
WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x
           FROM documents WHERE n_chars IS NOT NULL),
h AS (SELECT source, x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
cum AS (
  SELECT source, x, c,
         SUM(c) OVER (PARTITION BY source ORDER BY x) AS cc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM h
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MIN(CASE WHEN cc * 100 >= 50 * n THEN x END) AS BIGINT) AS p50,
       CAST(MIN(CASE WHEN cc * 100 >= 90 * n THEN x END) AS BIGINT) AS p90,
       CAST(MIN(CASE WHEN cc * 100 >= 99 * n THEN x END) AS BIGINT) AS p99
FROM cum GROUP BY source ORDER BY source
""",
)
def length_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source length percentiles (p50/p90/p99, nearest-rank:
    smallest x with cum·100 ≥ q·n — pure integer comparison) computed
    from quantized histograms, generalizing mad_outlier_docs' median
    trick: cumulative windows run over the distinct-VALUE relation per
    source, never a per-source row sort — exact percentiles at 100 TB
    where percentile_approx trades accuracy and exact percentile aggs
    buffer whole groups.
    """
    docs = load(spark, sf_dir, "documents")
    d = docs.select("source", F.col("n_chars").cast("long").alias("x"))
    cum = _source_value_cum(d, "x")

    def pct(q: int) -> Column:
        return (
            F.min(F.when(F.col("cc") * 100 >= q * F.col("n"), F.col("x")))
            .cast("long")
            .alias(f"p{q}")
        )

    return (
        cum.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            pct(50),
            pct(90),
            pct(99),
        )
        .orderBy("source")
    )

@query(
    "psi_drift_audit",
    """
WITH d AS (
  SELECT source, CAST(n_chars AS BIGINT) // 50 AS b
  FROM documents WHERE n_chars IS NOT NULL
),
hb AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
tb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ct FROM hb GROUP BY b),
srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM hb GROUP BY source),
dims AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tb) AS nb,
         (SELECT CAST(SUM(ct) AS BIGINT) FROM tb) AS n_all
),
grid AS (
  SELECT s.source, s.n_src, dm.nb, dm.n_all,
         COALESCE(h.c, 0) AS c, t.ct - COALESCE(h.c, 0) AS r
  FROM srcs s CROSS JOIN tb t CROSS JOIN dims dm
  LEFT JOIN hb h ON h.source = s.source AND h.b = t.b
),
terms AS (
  SELECT source, n_src, nb,
         ((c + 1.0) / (n_src + nb) - (r + 1.0) / ((n_all - n_src) + nb))
         * (FLOOR(LN(((c + 1.0) / (n_src + nb))
                     / ((r + 1.0) / ((n_all - n_src) + nb)))
                  * 1000000000 + 0.5) / 1000000000) AS term
  FROM grid
),
psi AS (
  SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_docs,
         CAST(MAX(nb) AS BIGINT) AS n_buckets,
         FLOOR((CAST(SUM(CAST(FLOOR(term * 1000000000 + 0.5) AS BIGINT))
                     AS DOUBLE) / 1000000000) * 1000000 + 0.5) / 1000000
           AS psi6
  FROM terms GROUP BY source
)
SELECT source, n_docs, n_buckets, psi6,
       CASE WHEN psi6 < 0.1 THEN 'stable'
            WHEN psi6 < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS psi_level
FROM psi ORDER BY source
""",
)
def psi_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX per source vs the rest of the corpus
    over the document-length distribution — the second standard drift
    statistic next to ks_drift_audit (KS reacts to the single worst
    CDF gap; PSI integrates the whole distribution shift, the metric
    model-risk teams gate on: <0.1 stable, 0.1–0.25 moderate, >0.25
    shifted).

    PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i) with p = the source's
    bucket share and q = the rest-of-corpus share, over fixed-width
    50-char buckets (bounded BY CONSTRUCTION, the
    ks_from_histograms(bucket_width) lesson). Laplace smoothing
    (c+1)/(n+B) keeps empty buckets finite on both sides — exact
    rational inputs, so both engines divide identical doubles; each
    ln is 1e9-quantized (the zipf_fit_stats discipline), each term is
    1e9-quantized into an exact-integer sum, and PSI rounds at 6 dp.

    Scale: one (source, bucket)-keyed partial agg over the corpus;
    the grid relation is |sources| × |buckets| — both bounded
    dimensions; no window touches row-grain data.
    """
    docs = load(spark, sf_dir, "documents")
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        "source", F.expr("CAST(n_chars AS BIGINT) div 50").alias("b")
    )
    hb = d.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tb = hb.groupBy("b").agg(F.sum("c").cast("long").alias("ct"))
    srcs = hb.groupBy("source").agg(F.sum("c").cast("long").alias("n_src"))
    dims = tb.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("ct").cast("long").alias("n_all"),
    )
    grid = (
        srcs.crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(dims))
        .join(hb, ["source", "b"], "left")
        .select(
            "source",
            "n_src",
            "nb",
            "n_all",
            F.coalesce("c", F.lit(0)).alias("c"),
            (F.col("ct") - F.coalesce("c", F.lit(0))).alias("r"),
        )
    )
    p = (F.col("c") + F.lit(1.0)) / (F.col("n_src") + F.col("nb"))
    q = (F.col("r") + F.lit(1.0)) / (
        (F.col("n_all") - F.col("n_src")) + F.col("nb")
    )
    term = (p - q) * rnd(F.log(p / q), 9)
    psi6 = rnd(
        F.sum(F.floor(term * F.lit(1000000000) + F.lit(0.5)).cast("long")).cast(
            "double"
        )
        / F.lit(1000000000),
        6,
    )
    psi = grid.groupBy("source").agg(
        F.max("n_src").cast("long").alias("n_docs"),
        F.max("nb").cast("long").alias("n_buckets"),
        psi6.alias("psi6"),
    )
    return psi.select(
        "source",
        "n_docs",
        "n_buckets",
        "psi6",
        F.when(F.col("psi6") < 0.1, F.lit("stable"))
        .when(F.col("psi6") < 0.25, F.lit("moderate"))
        .otherwise(F.lit("shifted"))
        .alias("psi_level"),
    ).orderBy("source")

@query(
    "js_divergence_sources",
    """
WITH toks AS (
  SELECT source, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
hc0 AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
vc0 AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS qc FROM hc0 GROUP BY tok),
vc AS (
  SELECT tok, qc FROM (
    SELECT tok, qc,
           ROW_NUMBER() OVER (ORDER BY qc DESC, tok ASC) AS rnk
    FROM vc0
  ) WHERE rnk <= 10000
),
hc AS (SELECT h.source, h.tok, h.c FROM hc0 h JOIN vc v ON v.tok = h.tok),
srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM hc GROUP BY source),
tot AS (SELECT CAST(SUM(qc) AS BIGINT) AS n_all FROM vc),
grid AS (
  SELECT s.source, s.n_src, t.n_all, v.qc, COALESCE(h.c, 0) AS c
  FROM srcs s CROSS JOIN vc v CROSS JOIN tot t
  LEFT JOIN hc h ON h.source = s.source AND h.tok = v.tok
),
terms AS (
  SELECT source, n_src, c,
         0.5 * (CASE WHEN c > 0 THEN (c * 1.0 / n_src)
                  * (FLOOR(LN((c * 1.0 / n_src)
                              / (((c * 1.0 / n_src) + (qc * 1.0 / n_all)) / 2))
                           * 1000000000 + 0.5) / 1000000000)
                ELSE 0 END)
         + 0.5 * ((qc * 1.0 / n_all)
                  * (FLOOR(LN((qc * 1.0 / n_all)
                              / (((c * 1.0 / n_src) + (qc * 1.0 / n_all)) / 2))
                           * 1000000000 + 0.5) / 1000000000)) AS term
  FROM grid
)
SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_src,
       FLOOR((CAST(SUM(CAST(FLOOR(term * 1000000000 + 0.5) AS BIGINT))
                   AS DOUBLE) / 1000000000) * 1000000 + 0.5) / 1000000 AS jsd6
FROM terms GROUP BY source ORDER BY source
""",
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN–SHANNON divergence (nats) between each source's token
    distribution and the corpus-wide distribution — the data-mixing
    diagnostic that quantifies how far each source sits from the blend
    it feeds (DoReMi-style reweighting and mixture dashboards plot
    exactly this; unlike KL it is finite and symmetric, so a source
    with exotic vocabulary cannot blow the number up to ∞).

    JSD(p‖q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2, with p the
    source distribution and q the full-corpus distribution (q > 0 for
    every token by construction, so no smoothing is needed; p = 0
    terms contribute only the q side, handled by the CASE). All
    proportions are exact rationals from integer counts — identical
    doubles on both engines; each ln is 1e9-quantized, each term
    1e9-quantized into an exact-integer sum, JSD rounds at 6 dp.

    BOUNDED BY CONSTRUCTION: distributions are taken over the TOP-10k
    corpus vocabulary (the standard practice for divergence reports;
    both distributions renormalize over the retained vocabulary), so
    the term grid is |sources| × ≤10k regardless of corpus size — a
    web-scale tail vocabulary cannot turn the cross join quadratic
    (the ks_from_histograms(bucket_width)/block_cap lesson). The cap
    never binds at the test SFs, where vocab < 10k.

    Scale: the token groupBys are map-side-combinable one-pass aggs;
    the top-10k rank runs over the vocab relation (salted two-level
    top-k); the grid is bounded-dimension × bounded-vocab.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    hc0 = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vc0 = hc0.groupBy("tok").agg(F.sum("c").cast("long").alias("qc"))
    vc = topk_per_group(
        vc0.withColumn("__g", F.lit(1)),
        group_col="__g",
        k=10000,
        sim_col="qc",
        tie_col="tok",
    ).select("tok", "qc")
    hc = hc0.join(vc.select("tok"), "tok")
    srcs = hc.groupBy("source").agg(F.sum("c").cast("long").alias("n_src"))
    tot = vc.agg(F.sum("qc").cast("long").alias("n_all"))
    grid = (
        srcs.crossJoin(vc)
        .crossJoin(F.broadcast(tot))
        .join(hc, ["source", "tok"], "left")
        .select(
            "source",
            "n_src",
            "n_all",
            "qc",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    p = F.col("c") * F.lit(1.0) / F.col("n_src")
    q = F.col("qc") * F.lit(1.0) / F.col("n_all")
    m = (p + q) / F.lit(2)
    term = F.lit(0.5) * F.when(
        F.col("c") > 0, p * rnd(F.log(p / m), 9)
    ).otherwise(F.lit(0)) + F.lit(0.5) * (q * rnd(F.log(q / m), 9))
    jsd6 = rnd(
        F.sum(F.floor(term * F.lit(1000000000) + F.lit(0.5)).cast("long")).cast(
            "double"
        )
        / F.lit(1000000000),
        6,
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_src").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
            .cast("long")
            .alias("vocab_src"),
            jsd6.alias("jsd6"),
        )
        .orderBy("source")
    )

#: seeded multilingual tails for the script-mixture audit (the PII /
#: URL seeding pattern: the synthetic corpus is ASCII, so non-Latin
#: runs are planted in-plan by the SAME CASE in both engines). All
#: characters are single-code-point BMP (grapheme == code point, so
#: Spark's code-point length and DuckDB's grapheme length agree).
_SCRIPT_SEED_SQL = """CASE
  WHEN doc_id % 89 = 9 THEN 'привет мир это полный кириллический документ'
  WHEN doc_id % 101 = 11 THEN '你好世界这是一个完整的中文文档'
  WHEN doc_id % 7 = 3 THEN text || ' привет мир сюда'
  WHEN doc_id % 11 = 5 THEN text || ' 你好世界'
  WHEN doc_id % 13 = 2 THEN text || ' αβγ δελτα'
  ELSE text END"""

def _skew_audit_targets() -> list[tuple[str, str, str]]:
    """(rel_key label, table, key column) pairs audited before the
    shuffles that production runs on them: the event fact's user key
    (heavy-hitter users exist by construction), the lineitem/orders
    join keys, and the documents partition-by-source key."""
    return [
        ("documents.source", "documents", "source"),
        ("events.user_id", "events", "user_id"),
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
    ]

def _skew_audit_oracle() -> str:
    legs = []
    for name, table, key in _skew_audit_targets():
        legs.append(
            f"""(WITH m AS (
  SELECT COALESCE(CAST({key} AS VARCHAR), '<null>') AS k,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} GROUP BY 1
),
s AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_mult
  FROM m
),
hot AS (SELECT MIN(m.k) AS hot_key FROM m, s WHERE m.c = s.max_mult),
h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nk FROM m GROUP BY c),
cum AS (SELECT c, SUM(nk) OVER (ORDER BY c) AS cum_keys FROM h),
p99 AS (
  SELECT CAST(MIN(cum.c) AS BIGINT) AS p99_mult
  FROM cum, s WHERE cum.cum_keys * 100 >= 99 * s.n_keys
)
SELECT '{name}' AS rel_key, s.n_rows, s.n_keys, s.max_mult,
       FLOOR((s.n_rows * 1.0 / s.n_keys) * 1000000 + 0.5) / 1000000
         AS avg_mult6,
       FLOOR((s.max_mult * 1.0 * s.n_keys / s.n_rows) * 1000000 + 0.5)
         / 1000000 AS skew6,
       hot.hot_key,
       FLOOR((s.max_mult * 1.0 / s.n_rows) * 1000000 + 0.5) / 1000000
         AS hot_share6,
       p99.p99_mult,
       (s.max_mult * s.n_keys > 4 * s.n_rows) AS salting_recommended
FROM s, hot, p99)"""
        )
    return "\n".join(
        ["SELECT * FROM ("] + ["\nUNION ALL\n".join(legs)] + [") ORDER BY rel_key"]
    )

@query("join_skew_audit", _skew_audit_oracle())
def join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-SHUFFLE SKEW PLANNER: per (relation, key) pair that
    production joins/groups on, the key-multiplicity profile that
    decides the physical strategy BEFORE the job runs — row count,
    distinct keys, max/avg multiplicity, the hottest key and its row
    share, the exact p99 multiplicity, and a salting recommendation
    (max > 4× avg). At 100 TB this table is what tells you whether the
    events.user_id shuffle needs salting or AQE skew-join hints, and
    whether a lineitem join partitions evenly — measured, not guessed.

    Scale: ONE keyed partial agg per audited relation (the same
    shuffle the audited job would run, but collapsed map-side to
    (key, count)); everything downstream — the multiplicity histogram,
    its cumulative p99 scan, the argmax — is bounded by the DISTINCT
    MULTIPLICITY cardinality (≤ a few hundred values even at corpus
    scale), so the global cumulative window never sees row-grain data.
    """
    from etl_weather_spark.operators.skew import key_skew_profile

    out = None
    for name, table, key in _skew_audit_targets():
        row = key_skew_profile(load(spark, sf_dir, table), key, name)
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rel_key")

def _morton_sql(bx: str, by: str) -> str:
    """20-bit Morton interleave as a sum of disjoint-bit terms —
    identical integer algebra Spark-side (_morton_col)."""
    terms = []
    for i in range(10):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"

def _morton_col(bx, by):
    out = F.lit(0).cast("long")
    for i in range(10):
        out = out + F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(
            F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return out

def _zorder_oracle() -> str:
    morton = _morton_sql("bx", "by")
    legs = []
    for layout, file_expr in [
        ("linear", "CAST((g.y - s.ymin) * 64 // (s.ymax - s.ymin + 1) AS BIGINT)"),
        ("zorder", "(m >> 14)"),
    ]:
        legs.append(
            f"""SELECT '{layout}' AS layout, file_id,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(x) AS fxmin, MAX(x) AS fxmax, MIN(y) AS fymin, MAX(y) AS fymax
FROM (
  SELECT {file_expr} AS file_id, g.x, g.y
  FROM grid g CROSS JOIN stats s
) GROUP BY file_id"""
        )
    zone = "\nUNION ALL\n".join(legs)
    return f"""
WITH pts AS (
  SELECT o_orderkey,
         CAST(o_custkey AS BIGINT) AS x,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS y
  FROM orders
),
stats AS (
  SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(MIN(x) + (MAX(x) - MIN(x)) * 2 // 5 AS BIGINT) AS qx_lo,
         CAST(MIN(x) + (MAX(x) - MIN(x)) * 3 // 5 AS BIGINT) AS qx_hi,
         CAST(MIN(y) + (MAX(y) - MIN(y)) * 2 // 5 AS BIGINT) AS qy_lo,
         CAST(MIN(y) + (MAX(y) - MIN(y)) * 3 // 5 AS BIGINT) AS qy_hi
  FROM pts
),
grid AS (
  SELECT p.x, p.y,
         CAST((p.x - s.xmin) * 1023 // GREATEST(s.xmax - s.xmin, 1)
              AS BIGINT) AS bx,
         CAST((p.y - s.ymin) * 1023 // GREATEST(s.ymax - s.ymin, 1)
              AS BIGINT) AS by
  FROM pts p CROSS JOIN stats s
),
grid2 AS (SELECT x, y, {morton} AS m FROM grid),
zones AS ({zone.replace("FROM grid g", "FROM grid2 g")}),
matching AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_matching
  FROM pts p CROSS JOIN stats s
  WHERE p.x >= s.qx_lo AND p.x <= s.qx_hi
    AND p.y >= s.qy_lo AND p.y <= s.qy_hi
)
SELECT z.layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN z.fxmin <= s.qx_hi AND z.fxmax >= s.qx_lo
                      AND z.fymin <= s.qy_hi AND z.fymax >= s.qy_lo
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
       CAST(SUM(CASE WHEN z.fxmin <= s.qx_hi AND z.fxmax >= s.qx_lo
                      AND z.fymin <= s.qy_hi AND z.fymax >= s.qy_lo
                     THEN z.n_rows ELSE 0 END) AS BIGINT)
         AS rows_in_touched,
       m.n_matching,
       FLOOR((1.0 - SUM(CASE WHEN z.fxmin <= s.qx_hi AND z.fxmax >= s.qx_lo
                              AND z.fymin <= s.qy_hi AND z.fymax >= s.qy_lo
                             THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS pruning_rate6,
       FLOOR((SUM(CASE WHEN z.fxmin <= s.qx_hi AND z.fxmax >= s.qx_lo
                        AND z.fymin <= s.qy_hi AND z.fymax >= s.qy_lo
                       THEN z.n_rows ELSE 0 END) * 1.0
              / GREATEST(m.n_matching, 1)) * 1000000 + 0.5) / 1000000
         AS read_amplification6
FROM zones z CROSS JOIN stats s CROSS JOIN matching m
GROUP BY z.layout, m.n_matching
ORDER BY z.layout
"""

@query("zorder_pruning_audit", _zorder_oracle())
def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-LAYOUT governance: how much zone-map (min/max) file pruning
    does a Z-ORDER layout buy over the natural date-ordered layout for
    a 2-D box probe (customer range × date range, the middle 20% of
    each dimension)? Every lakehouse engine ships this decision
    (Delta/Iceberg Z-ordering); this audit MEASURES it on the actual
    key distribution instead of assuming: both layouts are simulated
    by value-range bucketing into 64 files (linear: date ranges;
    zorder: 20-bit Morton-code ranges = ``morton >> 14``), per-file
    min/max zone maps are computed, and the probe reports files
    touched, rows read, the pruning rate, and read amplification vs
    the true match count.

    Determinism: pure integer algebra end to end — 10-bit min-max
    scaling, a 20-term disjoint-bit Morton sum (generated by the SAME
    helper pattern both sides), integer range bucketing, integer box
    bounds at the 40/60% quantile-by-value marks.

    Scale: NO global sort anywhere — file assignment is value-range
    bucketing (the write-side analog is repartitionByRange, the sort
    a Z-order write pays ANYWAY); the audit costs one stats agg + one
    64-key zone-map agg per layout. At 100 TB this is the planning
    artifact that decides whether the nightly OPTIMIZE ZORDER run
    earns its cost for the table's real query box shapes.
    """
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("y"),
    )
    stats = pts.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    ).select(
        # integer `div` end to end — the same floor-division shape as
        # the oracle's `//` (both sides stay in BIGINT algebra; a
        # double-divide-then-cast round trip would diverge once key
        # magnitudes approach double's 53-bit integer range)
        "*",
        F.expr("xmin + (xmax - xmin) * 2 div 5").alias("qx_lo"),
        F.expr("xmin + (xmax - xmin) * 3 div 5").alias("qx_hi"),
        F.expr("ymin + (ymax - ymin) * 2 div 5").alias("qy_lo"),
        F.expr("ymin + (ymax - ymin) * 3 div 5").alias("qy_hi"),
    )
    stats = fence(stats)
    bx = F.expr("(x - xmin) * 1023 div greatest(xmax - xmin, 1)")
    by = F.expr("(y - ymin) * 1023 div greatest(ymax - ymin, 1)")
    grid = pts.crossJoin(F.broadcast(stats)).select(
        "x",
        "y",
        bx.alias("bx"),
        by.alias("by"),
        "ymin",
        "ymax",
    )
    grid = grid.select(
        "x", "y", "ymin", "ymax",
        _morton_col(F.col("bx"), F.col("by")).alias("m"),
        "by",
    )
    zones = None
    for layout, file_col in [
        (
            "linear",
            F.expr("(by_raw - ymin) * 64 div (ymax - ymin + 1)"),
        ),
        ("zorder", F.shiftright(F.col("m"), 14)),
    ]:
        g = grid.withColumnRenamed("y", "y_pt").withColumn(
            "by_raw", F.col("y_pt")
        )
        zone = (
            g.select(file_col.alias("file_id"), "x", F.col("y_pt").alias("y"))
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("x").alias("fxmin"),
                F.max("x").alias("fxmax"),
                F.min("y").alias("fymin"),
                F.max("y").alias("fymax"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )
        zones = zone if zones is None else zones.unionByName(zone)
    matching = (
        pts.crossJoin(F.broadcast(stats))
        .filter(
            (F.col("x") >= F.col("qx_lo"))
            & (F.col("x") <= F.col("qx_hi"))
            & (F.col("y") >= F.col("qy_lo"))
            & (F.col("y") <= F.col("qy_hi"))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching"))
    )
    touched = (
        (F.col("fxmin") <= F.col("qx_hi"))
        & (F.col("fxmax") >= F.col("qx_lo"))
        & (F.col("fymin") <= F.col("qy_hi"))
        & (F.col("fymax") >= F.col("qy_lo"))
    )
    return (
        zones.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(matching))
        .groupBy("layout", "n_matching")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.when(touched, 1).otherwise(0))
            .cast("long")
            .alias("files_touched"),
            F.sum(F.when(touched, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_in_touched"),
        )
        .select(
            "layout",
            "n_files",
            "files_touched",
            "rows_in_touched",
            "n_matching",
            rnd(
                F.lit(1.0) - F.col("files_touched") * 1.0 / F.col("n_files"), 6
            ).alias("pruning_rate6"),
            rnd(
                F.col("rows_in_touched")
                * 1.0
                / F.greatest(F.col("n_matching"), F.lit(1)),
                6,
            ).alias("read_amplification6"),
        )
        .orderBy("layout")
    )

_SWEEP_THRESHOLDS = [0.5, 0.6, 0.7, 0.8, 0.9]

#: Poisson(1) CDF cut points as 8-hex-digit md5-prefix boundaries
#: (floor(cdf · 2³²) in hex) — lexicographic comparison on the fixed-
#: width lowercase hex prefix IS the numeric comparison, so both
#: engines draw the identical deterministic Poisson weight without any
#: engine-specific hash or hex-to-int conversion.
_POISSON_HEX_BOUNDS = [
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71",
]

_BOOT_B = 32

def _boot_weight_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < '{b}' THEN {k}"
        for k, b in enumerate(_POISSON_HEX_BOUNDS)
    )
    return f"CASE {cases} ELSE 7 END"

_BUDGET_FRACS = [(1, 4), (1, 2), (3, 4), (1, 1)]
