"""The weather-pipeline spine: hourly (silver) → daily (gold) → summary.

Reference parity, expressed as one lazy DataFrame chain per stage:

- :func:`merge_hourly` — J1 full-outer equi-join of weather and air
  hourly tables on (city, time)  (transform.py:77,169)
- :func:`daily_from_hourly` — A1 group-by-day multi-agg + C4/C5
  round/fill + C2 categorize + derived boolean flags the reference
  frontend expects but its backend never computes (app.js:326-328)
- :func:`summary_from_daily` — A3-A5 per-city aggregates incl. max_by
  wettest day, A4 count_if rainy days, C3 recommendation
  (report.py:81-106)

Every stage is SQL text (``selectExpr``/``F.expr``; the rules are SQL
fragments from ``functions.categorize``/``functions.recommend``), which
parses to the same plan as the Column API. Under PySpark 4.1 each Column
call costs ~10 py4j round trips (attaching its call-site origin) plus one
when its proxy is collected, an ``F.expr`` 3: built from Column calls the
spine cost ~2,000 round trips, ~400 ms a pass before any job ran, on a
4-vCPU VM; as SQL text it costs ~200.

Scale notes:
- The hourly⟗air join keys on (city, time). Both sides are written
  partitioned by city/date, so at 100 TB this is a co-partitioned
  sort-merge join with partition pruning on both sides; AQE handles city
  skew (a megacity's sensors vs a village).
- daily agg is a hash aggregate with map-side partial aggregation —
  shuffle carries one row per (city, date) per mapper, not raw rows.
- summary reads daily through ``DISTRIBUTE BY city``: it shuffles the
  daily gold rows (one per city-day) by city instead of partial
  aggregates, and the city aggregate needs no further exchange. It reads
  the fence below, so daily's global sort, its range-sample job and its
  range shuffle stay out of the summary's plan.
- daily gold is made once per pass, where it is made: ``daily_from_hourly``
  ends with an eager fence after its global sort, like the
  reference's written daily CSV that its report reads back. Lazy, the
  summary re-ran scan → explode → join → aggregate over the raw JSON:
  11 jobs per pass (daily collect, summary collect) instead of 9 on the
  benchmark's 24-city pass, and the JSON scanned twice. The fence's job
  runs inside ``daily_from_hourly``, at construction, not at the
  collect. Its blocks live until the returned DataFrame is garbage
  collected (the ContextCleaner releases them after a JVM GC), and a
  re-landed file gets a new fence from the next call. Gold is one row
  per city-day, not corpus-sized, and both the daily and the summary
  read it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark import config
from etl_weather_spark.functions.categorize import (
    is_heavy_rain,
    is_hot_day,
    is_unhealthy_pm25,
    pm25_category,
    sql_lit,
)
from etl_weather_spark.functions.recommend import recommendation
from etl_weather_spark.operators.fence import fence

def merge_hourly(weather: DataFrame, air: DataFrame) -> DataFrame:
    """Full-outer join weather and air hourly tables on (city, time).

    Preserves hours present in only one source (reference transform.py:77
    uses how='outer'); null time rows are dropped afterwards (F1,
    transform.py:86,189) and ``date`` is derived (P4).
    """
    return (
        weather.join(air, on=["city", "time"], how="outer")
        .filter("time IS NOT NULL")
        .selectExpr("*", "to_date(time) AS date")
    )


def daily_from_hourly(hourly: DataFrame) -> DataFrame:
    """Per (city, date): min/max temp, total rain, mean pm25/pm10 + category + flags.

    Matches reference transform.py:89-109 exactly: named aggs, total_rain
    null→0.0, round(2) everywhere, PM2.5 categorize; plus the
    is_hot_day / is_heavy_rain / is_unhealthy_pm25 flags (FIXTURES.md
    §2.2) promoted to real gold columns. Returns an eagerly fenced frame
    in (city, date) order: its job runs here.
    """
    daily = hourly.groupBy("city", "date").agg(
        F.expr("round(min(temp), 2) AS temp_min"),
        F.expr("round(max(temp), 2) AS temp_max"),
        F.expr("round(coalesce(sum(rain), 0.0D), 2) AS total_rain"),
        F.expr("round(avg(pm25), 2) AS pm25_avg"),
        F.expr("round(avg(pm10), 2) AS pm10_avg"),
    )
    return fence(daily.selectExpr(
        "*",
        f"{pm25_category('pm25_avg')} AS pm25_category",
        f"coalesce({is_hot_day('temp_max')}, false) AS is_hot_day",
        f"coalesce({is_heavy_rain('total_rain')}, false) AS is_heavy_rain",
        f"coalesce({is_unhealthy_pm25('pm25_avg')}, false) AS is_unhealthy_pm25",
    ).orderBy(F.expr("city"), F.expr("date")), eager=True)


def summary_from_daily(daily: DataFrame) -> DataFrame:
    """Period summary per city: min/max/mean, wettest day (max_by), rainy-day count.

    Reference report.py:81-106; rainy day = total_rain > 0 (A4 count_if),
    wettest day = argmax(total_rain) (A5 max_by), the earliest of tied
    days like the reference's ``idxmax``: the ``max_by`` key is the total
    order (total_rain, -day number). Adds the C3 recommendation text.
    """
    summary = daily.repartition(F.expr("city")).groupBy("city").agg(
        F.expr("round(min(temp_min), 2) AS period_temp_min"),
        F.expr("round(max(temp_max), 2) AS period_temp_max"),
        F.expr("round(avg(pm25_avg), 2) AS period_pm25_avg"),
        F.expr("max_by(date, struct(total_rain, -unix_date(date))) AS wettest_date"),
        F.expr("round(max(total_rain), 2) AS wettest_rain"),
        F.expr(f"sum(CASE WHEN total_rain > {sql_lit(config.RAINY_DAY_MM)} THEN 1 ELSE 0 END) AS rainy_days"),
        F.expr("count(1) AS n_days"),
    )
    rec = recommendation("period_pm25_avg", "period_temp_max", "rainy_days")
    return summary.selectExpr("*", f"{rec} AS recommendation")
