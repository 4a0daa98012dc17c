"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import random

import pytest

from perfbench import check, eventlog, gen, harness, run, wl_serve

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generators_are_deterministic_per_seed():
    cities = gen.city_names(5)
    assert gen.weather_docs(7, cities, 3) == gen.weather_docs(7, cities, 3)
    assert gen.weather_docs(7, cities, 3) != gen.weather_docs(8, cities, 3)
    assert gen.star_tables(7, 200, 300) == gen.star_tables(7, 200, 300)


def test_weather_docs_exercise_the_conform_path():
    docs = gen.weather_docs(3, gen.city_names(40), 2, broken_share=0.2)
    hourly = [w["hourly"] for w, _a in docs.values()]
    n = len(hourly[0]["time"])
    assert any(len(h) < 9 for h in hourly), "no metric array is missing"
    assert any(len(v) != n for h in hourly for k, v in h.items() if k != "time"), "no length mismatch"


def test_serve_cold_keys_always_miss_and_evict():
    """Replay the set-up, the warm-up and the script through an LRU of
    CACHE_MAX."""
    from collections import OrderedDict

    from etl_weather_spark.serve import CACHE_MAX

    lru = OrderedDict()

    def get(key, refresh):
        hit = key in lru and not refresh
        lru[key] = True
        lru.move_to_end(key)
        while len(lru) > CACHE_MAX:
            lru.popitem(last=False)
        return hit

    rng = random.Random(5)
    for key in rng.sample(wl_serve.HOT, len(wl_serve.HOT)):  # the set-up, in any order
        get(key, True)
    for key in rng.sample(wl_serve.COLD, len(wl_serve.COLD)):  # the warm-up: any order,
        get(key, True)
    for key in wl_serve.COLD:  # then script order
        get(key, False)
    for key in wl_serve.HOT:
        get(key, False)
    for b in range(3 * len(wl_serve.COLD)):
        block = wl_serve.script_block(b)
        hits = [get(key, refresh) for key, refresh in block]
        assert hits == [k in wl_serve.HOT and not r for k, r in block]


def test_serve_script_shape():
    keys = wl_serve.KEYS
    assert len(set(keys)) == len(keys) > 32
    assert set(wl_serve.REFRESHED) <= set(wl_serve.HOT)
    blocks = [wl_serve.script_block(b) for b in range(len(wl_serve.COLD) * len(wl_serve.REFRESHED))]
    assert {k for blk in blocks for k, _r in blk} == set(keys)
    for blk in blocks:
        assert len(blk) == 2 + wl_serve.HITS_PER_BLOCK
        assert [k for k, _r in blk if k in wl_serve.COLD] == [blk[0][0]]
        assert [k for k, r in blk if r] == [blk[1][0]]
        assert {k for k, _r in blk[2:]} == set(wl_serve.HOT)  # every hot key stays recent


_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "w=x q=a phase=build"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.jobGroup.id": "w=x q=a phase=build"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 1500, "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}, "Memory Bytes Spilled": 5,
        "Disk Bytes Spilled": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 500, "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 33}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 250}},
]


def test_eventlog_fold_attributes_stages_to_job_groups():
    groups = eventlog.fold(json.dumps(e) for e in _LOG)
    a = groups["w=x q=a phase=build"]
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 2
    assert a["task_s"] == pytest.approx(2.0)
    assert a["scan_tasks"] == 1 and a["scan_task_s"] == pytest.approx(1.5)
    assert (a["input_bytes"], a["input_records"]) == (100, 10)
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"], a["spill_bytes"]) == (40, 40, 6)
    assert a["job_wall_s"] == pytest.approx(2.5)
    assert groups[""]["jobs"] == 1 and groups[""]["task_s"] == pytest.approx(0.25)
    assert eventlog.total(groups, "w=x", "phase=exec")["jobs"] == 0
    assert eventlog.total(groups)["tasks"] == 3


def test_self_time_subtracts_the_union_of_children():
    spans = [
        (0, "pass", 0.0, 10.0, None, "r"),
        (1, "child", 1.0, 4.0, 0, "r"),
        (2, "child", 3.0, 5.0, 0, "r"),  # overlaps the first child
        (3, "child", 9.0, 12.0, 0, "r"),  # runs past its parent
        (4, "grandchild", 1.5, 2.0, 1, "r"),
    ]
    st = harness.self_times(spans)
    assert st["pass"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["child"] == pytest.approx(3.0 - 0.5 + 2.0 + 3.0)
    assert st["grandchild"] == pytest.approx(0.5)
    assert "pass: n=1 total=10.000s self=5.000s" in harness.span_report(spans)


def test_tracer_nests_spans_per_thread():
    tr = harness.Tracer(True)
    with tr.span("outer", "r1"):
        with tr.span("inner", "r1"):
            pass
    by_name = {s[1]: s for s in tr.spans}
    assert by_name["inner"][4] == by_name["outer"][0]
    assert by_name["outer"][4] is None
    off = harness.Tracer(False)
    with off.span("x"):
        off.count("c")
    assert off.spans == [] and not off.counters


def test_quantiles():
    assert harness.median([3, 1, 2]) == 2
    assert harness.quantile([0, 10], 0.9) == pytest.approx(9.0)


def _weather_case():
    docs = gen.weather_docs(11, gen.city_names(3), 2)
    ref = check.daily_reference(docs)
    daily = []
    for (city, day), v in sorted(ref.items()):
        row = {k: (None if x is None else round(x, 2)) for k, x in v.items()}
        row.update(city=city, date=day, pm25_category=check.pm25_category(row["pm25_avg"]))
        row["is_hot_day"] = row["temp_max"] is not None and row["temp_max"] > 33.0
        row["is_heavy_rain"] = row["total_rain"] > 20.0
        row["is_unhealthy_pm25"] = row["pm25_avg"] is not None and row["pm25_avg"] > 35.4
        daily.append(row)
    return ref, daily


def test_weather_check_accepts_reference_and_rejects_corruption():
    ref, daily = _weather_case()
    assert check.check_daily(daily, ref) == []
    bad = copy.deepcopy(daily)
    bad[0]["temp_max"] = (bad[0]["temp_max"] or 0) + 0.02
    assert check.check_daily(bad, ref)
    assert check.check_daily(daily[1:], ref)  # a missing row
    flipped = copy.deepcopy(daily)
    flipped[1]["is_heavy_rain"] = not flipped[1]["is_heavy_rain"]
    assert check.check_daily(flipped, ref)


def test_summary_check_rejects_wrong_recommendation():
    _ref, daily = _weather_case()
    city = daily[0]["city"]
    days = [d for d in daily if d["city"] == city]
    pms = [d["pm25_avg"] for d in days if d["pm25_avg"] is not None]
    row = {
        "city": city,
        "period_temp_min": min(d["temp_min"] for d in days if d["temp_min"] is not None),
        "period_temp_max": max(d["temp_max"] for d in days if d["temp_max"] is not None),
        "period_pm25_avg": round(sum(pms) / len(pms), 2) if pms else None,
        "wettest_date": max(days, key=lambda d: d["total_rain"])["date"],
        "wettest_rain": max(d["total_rain"] for d in days),
        "rainy_days": sum(d["total_rain"] > 0 for d in days),
        "n_days": len(days),
    }
    row["recommendation"] = check.recommendation(row["period_pm25_avg"], row["period_temp_max"], row["rainy_days"])
    assert check.check_summary([row], days) == []
    row["recommendation"] = "x"
    assert check.check_summary([row], days)


def test_canonical_payload_ignores_record_order_only():
    a = [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]
    assert check.canonical(a) == check.canonical(list(reversed(a)))
    assert check.canonical(a) != check.canonical([{"x": 1, "y": "a"}, {"x": 3, "y": "b"}])


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_missing_engine_package_is_a_usage_error(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "weather_etl", "--seed", "1", "--seconds", "1", "--trace", "0"]) == 2
    assert capsys.readouterr().out == ""
