"""Serving edge: stdlib JSON API over the query registry."""

from __future__ import annotations

import gc
import json
import threading
import urllib.request
import uuid

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException

from etl_weather_spark.queries import load, queries
from etl_weather_spark.serve import make_server


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    srv = make_server(spark, sf_dir)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _get(server, path):
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry JSON bodies
        return e.code, json.loads(e.read())


def test_daily_route(server):
    status, rows = _get(server, "/data/daily")
    assert status == 200
    assert len(rows) == 30
    assert {"date", "vavg", "category", "is_hot_day"} <= set(rows[0])


def test_hourly_route_limits(server):
    status, rows = _get(server, "/data/hourly?limit=5")
    assert status == 200 and len(rows) == 5


def test_summary_route(server):
    status, payload = _get(server, "/summary")
    assert status == 200
    assert "period_avg" in payload["summary"]
    assert isinstance(payload["recommendations"], list)


def test_any_registry_query_served(server):
    status, rows = _get(server, "/query/top5_days")
    assert status == 200 and len(rows) == 5
    status, err = _get(server, "/query/nope")
    assert status == 404 and "unknown query" in err["error"]


def test_cache_and_refresh(server):
    _get(server, "/data/daily")
    assert any(k.startswith("daily|") for k in server.api._cache)
    # poison the cache entry, then check refresh recomputes it
    key = next(k for k in server.api._cache if k.startswith("daily|"))
    server.api._cache[key] = [{"poisoned": True}]
    status, rows = _get(server, "/data/daily")
    assert rows == [{"poisoned": True}]  # cache hit serves the stub
    status, rows = _get(server, "/data/daily?refresh=true")
    assert len(rows) == 30  # refresh bypassed and re-populated


def test_compare_route(server):
    status, rows = _get(server, "/compare?kinds=view,error")
    assert status == 200
    assert {r["kind"] for r in rows} == {"view", "error"}
    assert len(rows) == 60  # 30 days x 2 kinds, long format
    status, err = _get(server, "/compare?kinds=view")
    assert status == 400
    # an empty or repeated kind does not count towards the two
    for kinds in ("view,", "view,view"):
        status, err = _get(server, f"/compare?kinds={kinds}")
        assert status == 400, kinds


def test_search_route(server):
    # prefix matches rank before substring matches; top-k limit applies
    status, body = _get(server, "/search?q=in&count=3")
    assert status == 200
    assert body["query"] == "in"
    assert body["count"] == len(body["results"]) <= 3
    names = [r["name"].lower() for r in body["results"]]
    assert all("in" in n for n in names)
    # prefix hits (india, indonesia) sort before substring hits (argentina, china)
    prefix = [n for n in names if n.startswith("in")]
    assert names[: len(prefix)] == sorted(prefix)
    status, body = _get(server, "/search?q=%20")
    assert status == 400


def test_provinces_and_regencies_routes(server):
    status, body = _get(server, "/provinces")
    assert status == 200
    provinces = body["results"]
    assert len(provinces) == 5 and provinces[0]["code"] == 0
    status, body = _get(server, f"/regencies/{provinces[0]['code']}")
    assert status == 200
    assert len(body["results"]) == 5  # 25 nations over 5 regions
    status, body = _get(server, "/regencies/notanumber")
    assert status == 400
    # "²".isdigit() is True but int("²") raises: a digit that is not a
    # decimal must be refused, not reach the generic 500 handler
    status, body = server.api.handle("/regencies/²", {})
    assert status == 400 and "bad province code" in body["error"]


def test_funfact_route_fresh_fast_semantics(server, tmp_path):
    # the model executes inside a Spark task (enrich_batched/mapInPandas),
    # so call state must live outside the pickled closure — a file works
    # in local mode
    counter = str(tmp_path / "calls")

    def counting_model(prompt: str) -> str:
        import os

        n = 1
        if os.path.exists(counter):
            n = int(open(counter).read()) + 1
        open(counter, "w").write(str(n))
        return f"fact-{n}"

    server.api._funfact_model = counting_model
    # first hit computes through enrich_batched
    status, body = _get(server, "/city/funfact/jakarta")
    assert status == 200 and body["source"] == "model"
    assert body["fun_fact"] == "fact-1"
    # cached on repeat
    status, body = _get(server, "/city/funfact/jakarta")
    assert body["source"] == "cache" and body["fun_fact"] == "fact-1"
    # fresh=true bypasses the cache
    status, body = _get(server, "/city/funfact/jakarta?fresh=true")
    assert body["source"] == "model" and body["fun_fact"] == "fact-2"
    # fast=true answers from cache instantly and refreshes in background
    status, body = _get(server, "/city/funfact/jakarta?fast=true")
    assert body["source"] == "cache-fast" and body["fun_fact"] == "fact-2"
    for t in server.api._funfact_threads:
        t.join(60)
    assert server.api._funfact_cache["jakarta"] == "fact-3"


def test_search_count_validation(server):
    status, body = _get(server, "/search?q=in&count=abc")
    assert status == 400
    status, body = _get(server, "/search?q=in&count=-1")
    assert status == 400
    status, body = _get(server, "/search?q=in&count=%C2%B2")  # "²"
    assert status == 400 and "bad count" in body["error"]


def test_limit_validation(server):
    for bad in ("abc", "0", "%C2%B2"):  # "%C2%B2" decodes to "²"
        status, body = _get(server, f"/data/hourly?limit={bad}")
        assert status == 400 and "bad limit" in body["error"]


def test_cached_lru_is_thread_safe():
    """Serving threads share one LRU: with 8 threads cycling through
    2×CACHE_MAX keys, evictions interleave with hits constantly, and a
    hit must never fail because another thread evicted its key between
    the membership test and ``move_to_end``. Needs no Spark."""
    import sys

    from etl_weather_spark.serve import CACHE_MAX, EngineAPI

    api = EngineAPI(None, "unused")
    keys = [f"k{i}" for i in range(2 * CACHE_MAX)]
    errors: list[BaseException] = []

    def worker(seed: int) -> None:
        try:
            for i in range(10_000):
                key = keys[(seed * 7 + i) % len(keys)]
                assert api._cached(key, lambda: [key], False) == [key]
        except Exception as ex:  # noqa: BLE001 - reported below
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(api._cache) <= CACHE_MAX


def test_funfact_url_encoded_city_decodes(server, tmp_path):
    server.api._funfact_model = lambda prompt: f"fact about [{prompt}]"
    status, body = _get(server, "/city/funfact/New%20York")
    assert status == 200
    assert body["city"] == "New York"
    assert "New York" in body["fun_fact"]
    # the decoded form hits the same cache entry
    status, body = _get(server, "/city/funfact/New%20York")
    assert body["source"] == "cache"


def _get_raw(server, path):
    port = server.server_address[1]
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
        return r.status, r.headers.get("Content-Type", ""), r.read().decode("utf-8")


def test_index_html_route(server):
    """`/` serves the report renderer's dashboard as text/html
    (reference web.py:247-249) with the route table appended."""
    status, ctype, body = _get_raw(server, "/")
    assert status == 200
    assert ctype.startswith("text/html")
    assert "<h2>Data</h2>" in body  # the report's data table
    assert "/query/&lt;name&gt;" in body  # the route index
    # cached like any route: second hit identical
    status2, _, body2 = _get_raw(server, "/")
    assert (status2, body2) == (200, body)


def test_ai_status_route(server, monkeypatch):
    """`/ai/status` probes the wired enrichment model without echoing
    secrets (reference web.py:257-261)."""
    monkeypatch.delenv("ENRICH_API_KEY", raising=False)
    # earlier tests swap the shared server's model; pin the default here
    from etl_weather_spark.functions.enrich import deterministic_fake_model

    server.api._funfact_model = deterministic_fake_model
    status, body = _get(server, "/ai/status")
    assert status == 200
    assert body["sdk"] is True
    assert body["api_key"] is False
    assert body["generate_ok"] is True
    assert body["error"] is None
    assert body["model"] == "deterministic_fake_model"
    # key presence is reported as a boolean, never the value
    monkeypatch.setenv("ENRICH_API_KEY", "sekrit-value")
    status, body = _get(server, "/ai/status")
    assert body["api_key"] is True
    assert "sekrit-value" not in json.dumps(body)


def test_ai_status_reports_model_failure(server):
    def broken(prompt):
        raise RuntimeError("quota exceeded")

    orig = server.api._funfact_model
    try:
        server.api._funfact_model = broken
        status, body = _get(server, "/ai/status")
        assert status == 200
        assert body["generate_ok"] is False
        assert "quota exceeded" in body["error"]
    finally:
        server.api._funfact_model = orig


def _jobs_in_group(spark, fn):
    """(fn(), number of Spark jobs fn ran on this thread)."""
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_remembers_schema_per_table_identity(spark, tmp_path):
    """Only the first load of a table infers its parquet schema (a Spark
    job); a rewrite at the same path is a new table, and a missing table
    still fails in Spark."""
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    _, first = _jobs_in_group(spark, lambda: load(spark, sf, "t"))
    df, second = _jobs_in_group(spark, lambda: load(spark, sf, "t"))
    assert first >= 1 and second == 0, (first, second)
    assert df.collect() == [(1, "a")]
    spark.createDataFrame([(2, "b", 0.5)], "k long, v string, w double").write.mode(
        "overwrite"
    ).parquet(path)
    assert load(spark, sf, "t").columns == ["k", "v", "w"]
    with pytest.raises(AnalysisException):
        load(spark, sf, "missing")


@pytest.mark.parametrize("name", ["daily_flags", "rolling_avg_7d", "hourly_outer_join"])
def test_served_build_round_trips(spark, sf_dir, name):
    """A served recompute builds its query from SQL text: a few py4j
    round trips per stage, not ~10 per Column call (about 520, 740 and
    540 for these three when built from Column calls). Counts the calls
    of this thread after one warm build; see
    tests/test_weather_pipeline.py::test_spine_construction_round_trips."""
    build = queries()[name]
    build(spark, sf_dir)
    sent = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        sent[0] += threading.get_ident() == me
        return send(self, command)

    gc.collect()
    ClientServerConnection.send_command = counting
    try:
        build(spark, sf_dir)
    finally:
        ClientServerConnection.send_command = send
    assert sent[0] <= 150, sent[0]
