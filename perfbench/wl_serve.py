"""serve_mixed: one HTTP client against serve.make_server, one block of the
request script per operation.

The request script is a fixed sequence of blocks. Block ``b`` sends one
request for the cold key ``COLD[b % 26]``, one ``refresh=true`` recompute of
a data route and fourteen requests for the eight hot keys in turn. The hot
keys are touched in every block, so they stay cached; the 26 cold keys take
turns in the 24 cache slots the hot keys leave (``serve.CACHE_MAX`` is 32),
so every cold request misses and evicts the least recently used cold key.
The seed generates the tables the routes read; the script is the same for
every seed, and every run starts it at block 0, so every measuring window
sends the same mix. Every response must be 200 and equal, as a multiset of
records, the first payload computed for its key.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from collections import OrderedDict
from urllib.parse import urlencode

from perfbench import check, eventlog, gen, harness

SETUPS = 3
SETUP_CLIENTS = 2  # set-up and warm-up compute keys from this many threads

HOT = [
    "/data/daily", "/data/hourly?limit=24", "/summary", "/", "/provinces",
    "/compare?kinds=view,click", "/query/rolling_avg_7d?limit=50", "/search?q=in",
]
# one recompute per block, in turn: data routes of about the same cost, so
# that every block costs about the same
REFRESHED = ["/data/daily", "/data/hourly?limit=24", "/compare?kinds=view,click", "/query/rolling_avg_7d?limit=50"]
# one plan shape, cheap to compute: the warm-up computes every one
COLD = [
    f"/search?q={p}&count={n}"
    for p in ("al", "ar", "br", "ca", "ch", "eg", "et", "fr", "ge", "ir", "ja", "jo", "ke")
    for n in (3, 5)
]
KEYS = HOT + COLD
HITS_PER_BLOCK = 14
WARMUP_BLOCKS = 2


class CountingLRU(OrderedDict):
    """The server's cache dict, counting the LRU evictions it makes."""

    evictions = 0

    def popitem(self, last=True):
        self.evictions += 1
        return super().popitem(last)


def script_block(b: int) -> list[tuple[str, bool]]:
    """(key, refresh) pairs of block ``b``."""
    block = [(COLD[b % len(COLD)], False), (REFRESHED[b % len(REFRESHED)], True)]
    block += [(HOT[(b * HITS_PER_BLOCK + i) % len(HOT)], False) for i in range(HITS_PER_BLOCK)]
    return block


def _url(key: str, refresh: bool, rid: int) -> str:
    extra = {"rid": str(rid)}
    if refresh:
        extra["refresh"] = "true"
    return key + ("&" if "?" in key else "?") + urlencode(extra)


class Workload:
    name = "serve_mixed"

    def __init__(self, run) -> None:
        self.run = run
        self.sf_dir = os.path.join(run.tmp, "serve", "sf")
        gen.write_star(gen.star_tables(run.seed), self.sf_dir)
        self.first: dict[str, str] = {}  # key -> canonical payload
        self.server = None
        self.thread = None
        self.rid = 0
        self.block = 0  # next block of the script; a second window continues it
        self.outcomes: dict[str, dict] = {}
        self.lock = threading.Lock()

    # -- server with instrumented EngineAPI --------------------------------
    def _start_server(self) -> None:
        from etl_weather_spark import serve

        self._stop_server()
        run = self.run
        self.server = serve.make_server(run.spark, self.sf_dir)
        api = self.server.api
        api._cache = self.lru = CountingLRU()
        local = threading.local()
        orig_handle, orig_cached = api.handle, api._cached
        registry = dict(api.registry)

        def built(fn):
            def wrapper(spark, sf_dir):
                t0 = time.perf_counter()
                with run.job_group(f"w=serve_mixed q={local.path} phase=build"):
                    df = fn(spark, sf_dir)
                local.build_s += time.perf_counter() - t0
                return df
            return wrapper

        api.registry = {name: built(fn) for name, fn in registry.items()}

        def cached(key, compute, refresh):
            def timed():
                local.miss = True
                return compute()
            local.key = key
            return orig_cached(key, timed, refresh)

        def handle(path, params):
            local.miss, local.key, local.build_s, local.path = False, None, 0.0, path
            t0 = time.perf_counter()
            with run.job_group(f"w=serve_mixed q={path} phase=exec"):
                out = orig_handle(path, params)
            dt = time.perf_counter() - t0
            rid = params.get("rid", [""])[0]
            info = {"key": local.key, "miss": local.miss, "handle_s": dt, "build_s": local.build_s}
            if local.miss:
                run.record_pins()
            with self.lock:
                self.outcomes[rid] = info
            return out

        api._cached, api.handle = cached, handle
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def _stop_server(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def close(self) -> None:
        self._stop_server()

    # -- requests ---------------------------------------------------------
    def _request(self, key: str, refresh: bool) -> dict:
        with self.lock:
            self.rid += 1
            rid = self.rid
        port = self.server.server_address[1]
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request("GET", _url(key, refresh, rid))
            resp = conn.getresponse()
            body = resp.read()
            status = resp.status
        finally:
            conn.close()
        dt = time.perf_counter() - t0
        return {"rid": str(rid), "key": key, "status": status, "body": body, "s": dt}

    def _check(self, r: dict) -> None:
        if r["status"] != 200:
            self.run.op(False, f"{r['key']}: status {r['status']}")
            return
        body = r["body"].decode("utf-8")
        canon = body if r["key"] == "/" else check.canonical(json.loads(body))
        want = self.first.setdefault(r["key"], canon)
        self.run.op(canon == want, f"{r['key']}: payload differs from first compute")

    def _compute(self, keys: list[str], refresh: bool, clients: int = 1) -> None:
        """Request ``keys`` from ``clients`` threads and check every answer."""
        todo = list(reversed(keys))

        def client():
            while True:
                with self.lock:
                    if not todo:
                        return
                    key = todo.pop()
                r = self._request(key, refresh)
                with self.lock:
                    self._check(r)

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)

    def setup(self) -> float:
        """(Re)start the server, empty cache, on the current session and
        compute every hot key."""
        t0 = time.perf_counter()
        self._start_server()
        self._compute(HOT, True, SETUP_CLIENTS)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Compute every cold key, touch them in script order, then touch
        the hot keys: the cache is then full, its cold keys in script order
        (the two hot keys the cold ones evict are recomputed). Then run the
        first blocks of the script, checked and untimed, while the JIT warms
        up."""
        self._compute(COLD, True, SETUP_CLIENTS)
        self._compute(COLD, False)
        self._compute(HOT, False)
        for _ in range(WARMUP_BLOCKS):
            for key, refresh in script_block(self.block):
                self._check(self._request(key, refresh))
            self.block += 1

    def restarted(self) -> None:
        """Point the running server at the new session; its cache stays warm."""
        api = self.server.api
        api.spark = self.run.spark
        api._geocode_dim = None

    def measure(self, seconds: float) -> dict:
        """Whole blocks of the script until ``seconds`` have passed. The
        operation is a block, the client's page load of 16 requests: its
        time is set by the two recomputes, not by the scheduling jitter of a
        1-2 ms cache hit."""
        results: list[dict] = []
        lat = []
        evicted0 = self.lru.evictions
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            b0 = time.perf_counter()
            results += [self._request(key, refresh) for key, refresh in script_block(self.block)]
            lat.append((time.perf_counter() - b0) * 1000.0)
            self.block += 1
        tr = self.run.tracer
        tr.count("serve.evictions", self.lru.evictions - evicted0)
        for r in results:
            self._check(r)
            info = self.outcomes.get(r["rid"], {})
            kind = "miss" if info.get("miss") else "hit"
            tr.sample(f"serve.{kind}_ms", r["s"] * 1000.0)
            tr.sample(f"serve.handle_{kind}_ms", info.get("handle_s", 0.0) * 1000.0)
            tr.sample("serve.http_overhead_ms", (r["s"] - info.get("handle_s", 0.0)) * 1000.0)
            tr.sample("serve.response_bytes", len(r["body"]))
            if info.get("miss") and r["key"].startswith("/query/"):
                tr.sample("queries.build_s", info["build_s"])
                tr.sample("queries.exec_s", info["handle_s"] - info["build_s"])
        return {"lat_ms": lat}

    def layer_metrics(self, groups: dict) -> dict:
        tr = self.run.tracer
        s = tr.samples
        n_miss = max(len(s["serve.miss_ms"]), 1)
        n_all = len(s["serve.miss_ms"]) + len(s["serve.hit_ms"])
        n_query = max(len(s["queries.build_s"]), 1)
        build = eventlog.total(groups, "w=serve_mixed q=/query/", "phase=build")
        query = eventlog.total(groups, "w=serve_mixed q=/query/", "phase=exec")
        allg = eventlog.total(groups, "w=serve_mixed")
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        build_wall = sum(s["queries.build_s"])

        def med(name):
            return harness.median(s[name]) if s[name] else 0.0

        return {
            "serve.hit_p50_ms": med("serve.hit_ms"),
            "serve.miss_p50_ms": med("serve.miss_ms"),
            "serve.handle_hit_ms": med("serve.handle_hit_ms"),
            "serve.handle_miss_ms": med("serve.handle_miss_ms"),
            "serve.http_overhead_ms": med("serve.http_overhead_ms"),
            "serve.cache_hit_ratio": len(s["serve.hit_ms"]) / max(n_all, 1),
            "serve.evictions": tr.counters["serve.evictions"] / max(n_all, 1),
            "serve.jobs_per_miss": allg["jobs"] / n_miss,
            "serve.response_bytes": med("serve.response_bytes"),
            "queries.build_s": med("queries.build_s"),
            "queries.exec_s": med("queries.exec_s"),
            "queries.build_jobs": build["jobs"] / n_query,
            "queries.exec_jobs": query["jobs"] / n_query,
            "queries.build_core_util": build["task_s"] / (build_wall * cores) if build_wall else 0.0,
            "operators.task_s": allg["task_s"] / n_miss,
            "operators.stages": allg["stages"] / n_miss,
            "operators.tasks": allg["tasks"] / n_miss,
            "operators.shuffle_write_bytes": allg["shuffle_write_bytes"] / n_miss,
            "operators.shuffle_read_bytes": allg["shuffle_read_bytes"] / n_miss,
            "operators.spill_bytes": allg["spill_bytes"] / n_miss,
            "sources.input_bytes": allg["input_bytes"] / n_miss,
            "sources.input_records": allg["input_records"] / n_miss,
        }

