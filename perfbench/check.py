"""Pure-Python references and the checks that compare the engine's output
with them. Each check returns a list of mismatch descriptions; an empty
list means the output is correct."""

from __future__ import annotations

import json
import math
from collections import defaultdict

from etl_weather_spark import config

# a value the engine rounds to 2 dp may differ from the exact reference by
# at most half a unit in the last place, plus float summation error
TOL = 0.005 + 1e-9


def _close(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) <= TOL


def pm25_category(v):
    if v is None:
        return config.PM25_NULL_CATEGORY
    for edge, label in config.PM25_BINS:
        if v <= edge:
            return label
    return config.PM25_TOP_CATEGORY


def recommendation(pm25, temp_max, rainy_days) -> str:
    parts = []
    if pm25 is not None and pm25 > config.SENSITIVE_PM25:
        parts.append(config.ADVICE_MASK)
    elif pm25 is not None and pm25 > config.MODERATE_PM25:
        parts.append(config.ADVICE_MASK_SENSITIVE)
    if temp_max is not None and temp_max > config.HOT_DAY_TEMP_C:
        parts.append(config.ADVICE_HEAT)
    if rainy_days is not None and rainy_days >= config.RAINY_DAYS_ADVICE_MIN:
        parts.append(config.ADVICE_RAIN)
    return " ".join(parts) or config.ADVICE_DEFAULT


# ---------------------------------------------------------------------------
# weather pipeline
# ---------------------------------------------------------------------------


def _conformed(hourly: dict, key: str) -> list | None:
    arr = hourly.get(key)
    return arr if arr is not None and len(arr) == len(hourly["time"]) else None


def daily_reference(docs: dict[str, tuple[dict, dict]]) -> dict[tuple[str, str], dict]:
    """(city, date) -> unrounded daily aggregates from the generated arrays."""
    out = {}
    for city, (weather, air) in docs.items():
        w, a = weather["hourly"], air["hourly"]
        cols = {
            "temp": _conformed(w, "temperature_2m"),
            "rain": _conformed(w, "precipitation"),
            "pm25": _conformed(a, "pm2_5"),
            "pm10": _conformed(a, "pm10"),
        }
        by_day: dict[str, list[int]] = defaultdict(list)
        for i, t in enumerate(w["time"]):
            by_day[t[:10]].append(i)
        for day, idx in by_day.items():
            vals = {k: ([c[i] for i in idx] if c is not None else []) for k, c in cols.items()}
            out[(city, day)] = {
                "temp_min": min(vals["temp"]) if vals["temp"] else None,
                "temp_max": max(vals["temp"]) if vals["temp"] else None,
                "total_rain": math.fsum(vals["rain"]) if vals["rain"] else 0.0,
                "pm25_avg": math.fsum(vals["pm25"]) / len(vals["pm25"]) if vals["pm25"] else None,
                "pm10_avg": math.fsum(vals["pm10"]) / len(vals["pm10"]) if vals["pm10"] else None,
            }
    return out


def check_daily(rows: list[dict], ref: dict[tuple[str, str], dict]) -> list[str]:
    bad = []
    seen = set()
    for r in rows:
        key = (r["city"], str(r["date"]))
        seen.add(key)
        want = ref.get(key)
        if want is None:
            bad.append(f"daily: unexpected row {key}")
            continue
        for col, v in want.items():
            if not _close(r[col], v):
                bad.append(f"daily {key} {col}: got {r[col]} want {v}")
        if r["pm25_category"] != pm25_category(r["pm25_avg"]):
            bad.append(f"daily {key} pm25_category: {r['pm25_category']}")
        flags = {
            "is_hot_day": r["temp_max"] is not None and r["temp_max"] > config.HOT_DAY_TEMP_C,
            "is_heavy_rain": r["total_rain"] > config.HEAVY_RAIN_MM,
            "is_unhealthy_pm25": r["pm25_avg"] is not None and r["pm25_avg"] > config.UNHEALTHY_PM25,
        }
        for col, v in flags.items():
            if r[col] != v:
                bad.append(f"daily {key} {col}: got {r[col]} want {v}")
    for key in ref.keys() - seen:
        bad.append(f"daily: missing row {key}")
    return bad


def check_summary(rows: list[dict], daily: list[dict]) -> list[str]:
    """The summary must aggregate the (already checked) daily rows."""
    per_city: dict[str, list[dict]] = defaultdict(list)
    for d in daily:
        per_city[d["city"]].append(d)
    bad = []
    if {r["city"] for r in rows} != set(per_city):
        bad.append("summary: city set differs from daily")
    for r in rows:
        days = per_city.get(r["city"], [])
        if not days:
            continue
        mins = [d["temp_min"] for d in days if d["temp_min"] is not None]
        maxs = [d["temp_max"] for d in days if d["temp_max"] is not None]
        pms = [d["pm25_avg"] for d in days if d["pm25_avg"] is not None]
        wettest = max(d["total_rain"] for d in days)
        want = {
            "period_temp_min": min(mins) if mins else None,
            "period_temp_max": max(maxs) if maxs else None,
            "period_pm25_avg": math.fsum(pms) / len(pms) if pms else None,
            "wettest_rain": wettest,
        }
        for col, v in want.items():
            if not _close(r[col], v):
                bad.append(f"summary {r['city']} {col}: got {r[col]} want {v}")
        wet_days = {str(d["date"]) for d in days if d["total_rain"] == wettest}
        if str(r["wettest_date"]) not in wet_days:
            bad.append(f"summary {r['city']} wettest_date: {r['wettest_date']}")
        rainy = sum(1 for d in days if d["total_rain"] > config.RAINY_DAY_MM)
        if r["rainy_days"] != rainy or r["n_days"] != len(days):
            bad.append(f"summary {r['city']} counts: {r['rainy_days']}/{r['n_days']}")
        rec = recommendation(r["period_pm25_avg"], r["period_temp_max"], r["rainy_days"])
        if r["recommendation"] != rec:
            bad.append(f"summary {r['city']} recommendation: {r['recommendation']!r}")
    return bad


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------


def canonical(payload) -> str:
    """Order-insensitive form of a JSON payload: record lists compare as
    multisets, because several routes collect without an ORDER BY."""
    def norm(v):
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        if isinstance(v, list):
            return sorted((norm(x) for x in v), key=lambda x: json.dumps(x, sort_keys=True))
        return v

    return json.dumps(norm(payload), sort_keys=True)
