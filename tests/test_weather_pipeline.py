"""End-to-end spine parity on the reference's minimal fixtures.

Re-creates weather_min.json / air_min.json (FIXTURES.md §1) as
DataFrames, runs normalize → join → daily agg, and asserts the golden
rows from FIXTURES.md §2.3 exactly.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import threading
import uuid

import pytest
from py4j.clientserver import ClientServerConnection

from etl_weather_spark.operators.pipeline import (
    daily_from_hourly,
    merge_hourly,
    summary_from_daily,
)
from etl_weather_spark.plans.explain import physical_plan
from etl_weather_spark.sources.openmeteo import (
    HOURLY_AIR_FIELDS,
    HOURLY_WEATHER_FIELDS,
    normalize_hourly,
    read_raw_json,
)

TIMES = ["2025-01-01T00:00", "2025-01-01T01:00", "2025-01-02T00:00"]
WEATHER_DOC = {
    "city": "bandung",
    "ingest_ts": "2025-01-02T12:00:00",
    "hourly": {
        "time": TIMES,
        "temperature_2m": [25.0, 26.5, 24.0],
        "precipitation": [0.0, 0.1, 2.4],
    },
}
AIR_DOC = {
    "city": "bandung",
    "ingest_ts": "2025-01-02T12:00:00",
    "hourly": {"time": TIMES, "pm2_5": [10.0, 20.0, 40.0], "pm10": [25.0, 30.0, 60.0]},
}


@pytest.fixture(scope="module")
def raw_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    (d / "weather.json").write_text(json.dumps(WEATHER_DOC))
    (d / "air.json").write_text(json.dumps(AIR_DOC))
    return str(d / "weather.json"), str(d / "air.json")


def test_normalize_pads_missing_and_mismatched(spark, raw_paths):
    weather_path, _ = raw_paths
    raw = read_raw_json(spark, weather_path, HOURLY_WEATHER_FIELDS)
    hourly = normalize_hourly(raw, HOURLY_WEATHER_FIELDS)
    rows = hourly.orderBy("time").collect()
    assert len(rows) == 3
    assert rows[0]["temp"] == 25.0 and rows[0]["rain"] == 0.0
    # fields absent from the doc → all-null columns (transform.py:18-29)
    assert all(r["rh"] is None and r["wind"] is None for r in rows)


def test_normalize_nulls_length_mismatch(spark, tmp_path):
    doc = {
        "city": "x",
        "ingest_ts": "2025-01-01T00:00:00",
        "hourly": {"time": TIMES, "temperature_2m": [1.0, 2.0]},  # len 2 != 3
    }
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(doc))
    hourly = normalize_hourly(
        read_raw_json(spark, str(p), HOURLY_WEATHER_FIELDS), HOURLY_WEATHER_FIELDS
    )
    rows = hourly.collect()
    assert len(rows) == 3 and all(r["temp"] is None for r in rows)


def _spine(spark, weather_path, air_path):
    """read ×2 → normalize ×2 → merge → daily → summary, lazily."""
    hw = normalize_hourly(
        read_raw_json(spark, weather_path, HOURLY_WEATHER_FIELDS), HOURLY_WEATHER_FIELDS
    )
    ha = normalize_hourly(
        read_raw_json(spark, air_path, HOURLY_AIR_FIELDS), HOURLY_AIR_FIELDS
    )
    daily = daily_from_hourly(merge_hourly(hw, ha))
    return daily, summary_from_daily(daily)


def test_daily_golden_rows(spark, raw_paths):
    daily, _ = _spine(spark, *raw_paths)
    rows = [r.asDict() for r in daily.orderBy("date").collect()]
    assert len(rows) == 2
    d1, d2 = rows
    assert d1["date"] == dt.date(2025, 1, 1)
    assert (d1["temp_min"], d1["temp_max"], d1["total_rain"]) == (25.0, 26.5, 0.1)
    assert (d1["pm25_avg"], d1["pm10_avg"]) == (15.0, 27.5)
    assert d1["pm25_category"] == "Sedang"
    assert d1["is_hot_day"] is False and d1["is_unhealthy_pm25"] is False
    assert d2["date"] == dt.date(2025, 1, 2)
    assert (d2["temp_min"], d2["temp_max"], d2["total_rain"]) == (24.0, 24.0, 2.4)
    assert (d2["pm25_avg"], d2["pm10_avg"]) == (40.0, 60.0)
    assert d2["pm25_category"] == "Tidak sehat (sensitif)"
    assert d2["is_unhealthy_pm25"] is True


def test_summary(spark, raw_paths):
    _, summary = _spine(spark, *raw_paths)
    s = summary.collect()[0].asDict()
    assert s["period_temp_min"] == 24.0 and s["period_temp_max"] == 26.5
    assert s["wettest_date"] == dt.date(2025, 1, 2) and s["wettest_rain"] == 2.4
    assert s["rainy_days"] == 2  # both days have total_rain > 0
    assert s["recommendation"] == "Kondisi cuaca dan udara relatif nyaman."


def test_wettest_day_ties_take_earliest(spark, tmp_path):
    """A5 parity with the reference's ``idxmax``: of the days tied on the
    most rain (01-02 and 01-04, 3.0 mm each), the earliest wins."""
    times = [f"2025-01-0{d}T00:00" for d in range(1, 6)]
    weather = {
        "city": "x",
        "ingest_ts": "2025-01-06T00:00:00",
        "hourly": {"time": times, "precipitation": [0.0, 3.0, 1.0, 3.0, 0.5]},
    }
    air = {"city": "x", "ingest_ts": "2025-01-06T00:00:00", "hourly": {"time": times, "pm2_5": [10.0] * 5}}
    (tmp_path / "w.json").write_text(json.dumps(weather))
    (tmp_path / "a.json").write_text(json.dumps(air))
    _, summary = _spine(spark, str(tmp_path / "w.json"), str(tmp_path / "a.json"))
    s = summary.collect()[0]
    assert (s["wettest_date"], s["wettest_rain"]) == (dt.date(2025, 1, 2), 3.0)


def test_spine_construction_round_trips(spark, raw_paths):
    """Building the spine stays a handful of py4j round trips per stage:
    it is SQL text, not Column calls at ~10 round trips each (~2,000 in
    all when built from Column calls). Counts the calls of this thread:
    py4j's finalizer thread sends the deletes of collected proxies, from
    earlier tests too, whenever it wakes."""
    sent = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        sent[0] += threading.get_ident() == me
        return send(self, command)

    gc.collect()
    ClientServerConnection.send_command = counting
    try:
        _spine(spark, *raw_paths)
    finally:
        ClientServerConnection.send_command = send
    assert sent[0] <= 250, sent[0]


def test_summary_plan_drops_daily_sort(spark, raw_paths):
    """The summary reads daily's fence through a repartition by city, so
    it never sees daily's global sort: no Sort node, no range
    partitioning."""
    _, summary = _spine(spark, *raw_paths)
    optimized = summary._jdf.queryExecution().optimizedPlan().toString()
    assert not any(line.lstrip(" :+-").startswith("Sort ") for line in optimized.splitlines()), optimized
    assert "RepartitionByExpression [city" in optimized, optimized
    assert "rangepartitioning" not in physical_plan(summary).lower()


def _jobs_of_pass(spark, weather_path, air_path):
    """Spark jobs of one pass: build, daily collect, summary collect."""
    sc = spark.sparkContext
    group = f"weather-pass-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        daily, summary = _spine(spark, weather_path, air_path)
        daily.collect()
        summary.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pass_makes_daily_once(spark, raw_paths):
    """Daily gold is made once per pass, by the fence that ends
    daily_from_hourly, and both collects read it. Without the fence the
    summary re-runs scan → join → aggregate: 11 jobs at the benchmark's
    scale instead of 9."""
    assert _jobs_of_pass(spark, *raw_paths) == 9


def test_summary_plan_scans_no_json(spark, raw_paths):
    """The summary reads the daily fence, not the raw JSON files."""
    _, summary = _spine(spark, *raw_paths)
    summary.collect()
    assert "FileScan json" not in physical_plan(summary), physical_plan(summary)


def test_rewritten_raw_files_are_reread(spark, tmp_path):
    """The fence belongs to one built DataFrame, not to a plan: a pass
    over re-landed files at the same paths sees the new values."""
    weather, air = str(tmp_path / "weather.json"), str(tmp_path / "air.json")

    def land(temp_shift, pm_shift):
        w = dict(WEATHER_DOC, hourly=dict(WEATHER_DOC["hourly"]))
        w["hourly"]["temperature_2m"] = [t + temp_shift for t in w["hourly"]["temperature_2m"]]
        a = dict(AIR_DOC, hourly=dict(AIR_DOC["hourly"]))
        a["hourly"]["pm2_5"] = [p + pm_shift for p in a["hourly"]["pm2_5"]]
        (tmp_path / "weather.json").write_text(json.dumps(w))
        (tmp_path / "air.json").write_text(json.dumps(a))

    land(0.0, 0.0)
    daily, summary = _spine(spark, weather, air)
    assert [r["temp_max"] for r in daily.collect()] == [26.5, 24.0]
    assert summary.collect()[0]["period_pm25_avg"] == 27.5

    land(10.0, 100.0)
    daily, summary = _spine(spark, weather, air)
    assert [r["temp_max"] for r in daily.collect()] == [36.5, 34.0]
    s = summary.collect()[0]
    assert (s["period_temp_max"], s["period_pm25_avg"]) == (36.5, 127.5)
