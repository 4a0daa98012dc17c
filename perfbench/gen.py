"""Seeded input generators. The same seed always gives the same inputs.

The program under test only ever sees what these functions write: Open-Meteo
shaped weather/air documents, a small star schema plus ``events`` table in
parquet.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

from etl_weather_spark.sources.openmeteo import HOURLY_AIR_FIELDS, HOURLY_WEATHER_FIELDS

START = datetime(2025, 1, 1)


def city_names(n: int) -> list[str]:
    return [f"Kota {i:04d}" for i in range(n)]


def _series(rng: random.Random, n: int, lo: float, hi: float) -> list[float]:
    return [round(rng.uniform(lo, hi), 1) for _ in range(n)]


_WEATHER_RANGES = {
    "temperature_2m": (18.0, 36.0),
    "relative_humidity_2m": (40.0, 100.0),
    "windspeed_10m": (0.0, 30.0),
    "apparent_temperature": (18.0, 40.0),
    "weathercode": (0.0, 99.0),
    "dew_point_2m": (10.0, 26.0),
    "winddirection_10m": (0.0, 359.0),
}


def _maybe_broken(rng: random.Random, doc: dict, key: str, broken_share: float) -> None:
    """Drop a metric array or cut it short, so the conform path runs."""
    if rng.random() >= broken_share:
        return
    if rng.random() < 0.5:
        del doc[key]
    else:
        doc[key] = doc[key][: len(doc[key]) - rng.randint(1, 5)]


def weather_docs(
    seed: int, cities: list[str], days: int, broken_share: float = 0.08
) -> dict[str, tuple[dict, dict]]:
    """city -> (weather document, air document), Open-Meteo response shape."""
    rng = random.Random(seed)
    times = [(START + timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(days * 24)]
    n = len(times)
    out = {}
    for city in cities:
        hourly = {"time": times}
        for key, (lo, hi) in _WEATHER_RANGES.items():
            hourly[key] = _series(rng, n, lo, hi)
        # rain: mostly dry hours, some showers
        hourly["precipitation"] = [
            round(rng.uniform(0.1, 6.0), 1) if rng.random() < 0.15 else 0.0 for _ in range(n)
        ]
        air = {"time": times, "pm2_5": _series(rng, n, 2.0, 90.0), "pm10": _series(rng, n, 5.0, 140.0)}
        for key in HOURLY_WEATHER_FIELDS:
            _maybe_broken(rng, hourly, key, broken_share)
        for key in HOURLY_AIR_FIELDS:
            _maybe_broken(rng, air, key, broken_share)
        out[city] = ({"hourly": hourly}, {"hourly": air})
    return out


def write_samples(docs: dict[str, tuple[dict, dict]], sample_dir: str) -> None:
    """Write documents where ``land_raw(offline=True)`` looks for them."""
    from etl_weather_spark.sources.openmeteo import py_slug

    os.makedirs(sample_dir, exist_ok=True)
    for city, (weather, air) in docs.items():
        for kind, doc in (("weather", weather), ("air", air)):
            with open(os.path.join(sample_dir, f"{py_slug(city)}_{kind}.json"), "w", encoding="utf-8") as f:
                json.dump(doc, f)


# ---------------------------------------------------------------------------
# star schema + events (the tables the serving routes read)
# ---------------------------------------------------------------------------

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY",
    "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
    "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
_COLORS = ["red", "blue", "green", "ivory", "khaki", "linen", "navy", "plum"]


def star_tables(seed: int, n_orders: int = 12000, n_events: int = 40000) -> dict:
    """The TPC-H-like tables plus ``events``, as column dicts."""
    rng = random.Random(seed)
    n_cust, n_supp, n_part = max(n_orders // 10, 10), 100, 2000
    tables = {
        "region": {"r_regionkey": list(range(5)), "r_name": REGIONS},
        "nation": {
            "n_nationkey": list(range(25)),
            "n_name": NATIONS,
            "n_regionkey": [i % 5 for i in range(25)],
        },
        "customer": {
            "c_custkey": list(range(1, n_cust + 1)),
            "c_name": [f"Customer#{i:06d}" for i in range(1, n_cust + 1)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"]) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": list(range(1, n_supp + 1)),
            "s_name": [f"Supplier#{i:04d}" for i in range(1, n_supp + 1)],
            "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
            "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
        },
        "part": {
            "p_partkey": list(range(1, n_part + 1)),
            "p_name": [" ".join(rng.sample(_COLORS, 3)) for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in range(n_part)],
            "p_type": [rng.choice(["STANDARD", "PROMO", "ECONOMY"]) for _ in range(n_part)],
            "p_size": [rng.randint(1, 50) for _ in range(n_part)],
            "p_retailprice": [round(rng.uniform(900, 2000), 2) for _ in range(n_part)],
        },
    }
    o_date = [START - timedelta(days=rng.randrange(2000)) for _ in range(n_orders)]
    tables["orders"] = {
        "o_orderkey": list(range(1, n_orders + 1)),
        "o_custkey": [rng.randint(1, n_cust) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 400000), 2) for _ in range(n_orders)],
        "o_orderdate": o_date,
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]) for _ in range(n_orders)],
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(1, n_orders + 1):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randint(1, n_part))
            li["l_suppkey"].append(rng.randint(1, n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("RAN"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(o_date[ok - 1] + timedelta(days=rng.randint(1, 120)))
    tables["lineitem"] = li
    ev_ts = sorted(START + timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n_events))
    tables["events"] = {
        "event_id": list(range(n_events)),
        "ts": ev_ts,
        "user_id": [rng.randrange(150) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.expovariate(1 / 50), 2) + 0.01 for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
    }
    return tables


_INT32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey", "p_size", "l_linenumber"}


def write_star(tables: dict, sf_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {
            k: pa.array(v, type=pa.int32()) if k in _INT32
            else pa.array(v, type=pa.timestamp("us")) if isinstance(v[0], datetime)
            else pa.array(v)
            for k, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(sf_dir, f"{name}.parquet"))

