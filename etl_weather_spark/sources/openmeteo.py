"""Columnar-arrays JSON → hourly rows (reference parity: P1, S6).

Open-Meteo documents are a struct of *parallel arrays*, one element per
hour (column-major JSON):

    {"hourly": {"time": [...], "temperature_2m": [...], ...}}

The reference normalizes with a tolerant pandas builder
(transform.py:18-29 ``_safe_hourly_frame``): any metric array that is
missing — or whose length mismatches ``time`` — becomes an all-null
column. We reproduce those semantics declaratively:

1. read with a permissive schema (missing keys → null arrays),
2. null out length-mismatched arrays (``size(arr) != size(time)``),
3. ``posexplode(time)`` + per-metric ``element_at`` — one shuffle-free
   generator, then column pruning applies as usual.

Both projections are SQL text (two ``selectExpr``): built from Column
calls at ~10 py4j round trips each under PySpark 4.1, this stage cost
849 round trips for the weather metrics and 279 for air before any job
ran; the SQL text costs a few dozen and parses to the same plan.

Scale note: one input document is one city-fetch (≤384 hourly elements),
so explode fan-out is bounded and embarrassingly parallel across
documents; no shuffle is introduced — the plan stays a single
scan→generate→project stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Field → (raw name, canonical name) maps; renames per reference
# transform.py:73-74,155-167.
HOURLY_WEATHER_FIELDS: dict[str, str] = {
    "temperature_2m": "temp",
    "precipitation": "rain",
    "relative_humidity_2m": "rh",
    "windspeed_10m": "wind",
    "apparent_temperature": "feels_like",
    "weathercode": "wcode",
    "dew_point_2m": "dew_point",
    "winddirection_10m": "wind_dir",
}
HOURLY_AIR_FIELDS: dict[str, str] = {
    "pm2_5": "pm25",
    "pm10": "pm10",
}


def _raw_schema(fields: dict[str, str]) -> T.StructType:
    hourly = T.StructType(
        [T.StructField("time", T.ArrayType(T.StringType()))]
        + [T.StructField(raw, T.ArrayType(T.DoubleType())) for raw in fields]
    )
    return T.StructType(
        [
            T.StructField("city", T.StringType()),
            T.StructField("ingest_ts", T.TimestampType()),
            T.StructField("hourly", hourly),
        ]
    )


def read_raw_json(spark: SparkSession, path: str, fields: dict[str, str]) -> DataFrame:
    """Read raw Open-Meteo-shaped JSON documents with a permissive schema.

    Missing metric keys become null arrays (the conform step in
    :func:`normalize_hourly` turns them into null columns), matching the
    reference's "Missing fields will be left as empty values"
    (transform.py:121-125).
    """
    return spark.read.schema(_raw_schema(fields)).option("multiLine", "true").json(path)


def _conformed(raw_name: str, canon: str) -> str:
    """Null out a metric array whose length mismatches time (transform.py:24-28)."""
    arr = f"hourly.`{raw_name}`"
    return f"CASE WHEN size({arr}) = size(hourly.time) THEN {arr} END AS `__{canon}`"


def normalize_hourly(raw: DataFrame, fields: dict[str, str]) -> DataFrame:
    """Struct-of-parallel-arrays → one row per (city, hour).

    Output columns: ``city, ingest_ts, time`` (timestamp, null-on-parse-
    error per pd.to_datetime(errors='coerce')) + the canonical metric
    names from ``fields`` as nullable doubles.
    """
    exploded = raw.selectExpr(
        "city",
        "ingest_ts",
        "posexplode_outer(hourly.time) AS (pos, time_str)",
        *[_conformed(raw_name, canon) for raw_name, canon in fields.items()],
    )
    return exploded.selectExpr(
        "city",
        "ingest_ts",
        "to_timestamp(time_str) AS time",
        *[f"element_at(`__{canon}`, pos + 1) AS `{canon}`" for canon in fields.values()],
    )


# ---------------------------------------------------------------------------
# Ingestion-job retry (reference parity: S5, fetch.py:21-37)
# ---------------------------------------------------------------------------


class NetworkError(RuntimeError):
    """Raised when an ingestion fetch exhausts its retries
    (reference fetch.py:18,37)."""


def with_retries(fn, *, sleep=None):
    """Retry-with-exponential-backoff for ingestion calls (reference
    fetch.py:21-37: 3 attempts, delay 0.8 ×1.6, raises NetworkError).

    This wraps the DRIVER-side landing job (HTTP fetch → landed JSON
    document); once documents are landed, compute-side fault tolerance
    is Spark's own task retry (``spark.task.maxFailures``) — never a
    sleep inside an executor. ``sleep`` is injectable for tests.
    """
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    delay = 0.8
    last_exc: BaseException | None = None
    for _attempt in range(1, 4):
        try:
            return fn()
        except Exception as exc:  # noqa: PERF203 — retry loop
            last_exc = exc
            if _attempt < 3:
                do_sleep(delay)
                delay *= 1.6
    raise NetworkError(f"fetch failed after 3 attempts: {last_exc}") from last_exc


# ---------------------------------------------------------------------------
# Landing job: fetch → raw JSON documents (reference fetch.py:85-139)
# ---------------------------------------------------------------------------

WEATHER_URL = "https://api.open-meteo.com/v1/forecast"
AIR_URL = "https://air-quality-api.open-meteo.com/v1/air-quality"


def py_slug(name: str) -> str:
    """Driver-side twin of functions/text.slugify (utils.py:348-353) for
    landing-file names — NFKD accent strip, non-alnum runs → '-'."""
    import re
    import unicodedata

    norm = unicodedata.normalize("NFKD", name or "")
    s = "".join(c for c in norm if not unicodedata.combining(c)).lower()
    s = re.sub(r"[^a-z0-9]+", "-", s).strip("-")
    return s or "city"


def default_transport(url: str, params: dict) -> dict:
    """GET url?params → parsed JSON via stdlib urllib (the container has
    no HTTP client lib). Raises on non-2xx/network errors so `with_retries`
    can do its job. Tests inject a fake instead."""
    import json as _json
    import urllib.parse
    import urllib.request

    full = f"{url}?{urllib.parse.urlencode(params)}"
    req = urllib.request.Request(
        full, headers={"User-Agent": "etl-weather-spark/0.1 (https://open-meteo.com/)"}
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        return _json.loads(resp.read().decode("utf-8"))


def land_raw(
    city: str,
    raw_dir: str,
    *,
    days: int = 7,
    timezone: str | None = None,
    transport=None,
    geocoder=None,
    offline: bool = False,
    sample_dir: str | None = None,
    fallback: bool = True,
    sleep=None,
    now: str | None = None,
) -> dict:
    """The reference's fetch step (fetch.py:85-139): geocode the city,
    fetch the weather + air-quality documents with retry/backoff, land
    them as raw JSON — timestamped history file + ``_latest`` alias
    (K1) — wrapped with the ``city``/``ingest_ts`` envelope
    :func:`read_raw_json` expects.

    Everything effectful is injectable (``transport``, ``geocoder``,
    ``sleep``, ``now``) so the job is testable hermetically — the same
    fake-client pattern as functions/enrich. ``offline=True`` reads the
    documents from ``sample_dir`` (S8); ``fallback=True`` falls back to
    the sample when the network path exhausts its retries.

    Scale: landing is a driver/edge job by design (one API call per
    city); the cluster's work starts at ``read_raw_json`` over the
    landed directory, which parallelizes over documents.
    """
    import json as _json
    import os
    import time as _time

    if not 1 <= days <= 16:
        raise ValueError("days must be 1-16 for Open-Meteo")
    tp = transport or default_transport
    slug = py_slug(city)
    ts = now or _time.strftime("%Y%m%dT%H%M%S")
    os.makedirs(raw_dir, exist_ok=True)

    def _sample(kind: str) -> dict:
        sdir = sample_dir or os.path.join(raw_dir, "..", "samples")
        p = os.path.join(sdir, f"{slug}_{kind}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(f"sample not found: {p}")
        with open(p, encoding="utf-8") as f:
            return _json.load(f)

    if offline:
        weather, air = _sample("weather"), _sample("air")
    else:
        loc = (geocoder or _default_geocoder)(city)
        tz = timezone or loc.get("timezone") or "auto"
        hourly_w = ",".join(HOURLY_WEATHER_FIELDS)
        hourly_a = ",".join(HOURLY_AIR_FIELDS)
        base = {
            "latitude": loc["lat"],
            "longitude": loc["lon"],
            "forecast_days": days,
            "timezone": tz,
        }
        try:
            weather = with_retries(
                lambda: tp(WEATHER_URL, {**base, "hourly": hourly_w}),
                sleep=sleep,
            )
            air = with_retries(
                lambda: tp(AIR_URL, {**base, "hourly": hourly_a}),
                sleep=sleep,
            )
        except NetworkError:
            if not fallback:
                raise
            weather, air = _sample("weather"), _sample("air")

    out = {}
    for kind, doc in (("weather", weather), ("air", air)):
        landed = {
            "city": city,
            "ingest_ts": f"{ts[:4]}-{ts[4:6]}-{ts[6:8]}T{ts[9:11]}:{ts[11:13]}:{ts[13:15]}",
            "hourly": doc.get("hourly", {}),
        }
        hist = os.path.join(raw_dir, f"{slug}_{kind}_{ts}.json")
        latest = os.path.join(raw_dir, f"{slug}_{kind}_latest.json")
        body = _json.dumps(landed, ensure_ascii=False)
        for p in (hist, latest):
            tmp = f"{p}.tmp.{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(body)
            os.replace(tmp, p)  # atomic latest alias (M2)
        out[f"{kind}_path"] = hist
        out[f"{kind}_latest"] = latest
    return {"city": city, "slug": slug, **out}


def _default_geocoder(city: str) -> dict:
    """Geocode via the public Open-Meteo search API (web.py:123-151);
    inject a fake (or a broadcast-dim lookup, serve.default_geocode_dim)
    everywhere tests run."""
    j = default_transport(
        "https://geocoding-api.open-meteo.com/v1/search",
        {"name": city, "count": 1, "format": "json"},
    )
    results = j.get("results") or []
    if not results:
        raise NetworkError(f"no geocode result for {city!r}")
    r = results[0]
    return {
        "name": r.get("name"),
        "lat": r.get("latitude"),
        "lon": r.get("longitude"),
        "timezone": r.get("timezone"),
    }
