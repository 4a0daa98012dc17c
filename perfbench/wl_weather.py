"""weather_etl: the paper's batch pipeline, one pass per operation.

land_raw (offline) per city -> read_raw_json + normalize_hourly ->
merge_hourly -> daily_from_hourly -> summary_from_daily -> per-city CSV and
render_report HTML. Every pass is checked against a pure-Python reference.
"""

from __future__ import annotations

import csv
import os
import time

from perfbench import check, eventlog, gen

CITIES = 24
DAYS = 16
SETUPS = 3
# the JIT keeps speeding passes up after the set-ups; this many checked,
# untimed passes run before the measuring window
WARMUP_OPS = 2


class Workload:
    name = "weather_etl"

    def __init__(self, run) -> None:
        self.run = run
        self.cities = gen.city_names(CITIES)
        self.docs = gen.weather_docs(run.seed, self.cities, DAYS)
        self.sample_dir = os.path.join(run.tmp, "weather", "samples")
        gen.write_samples(self.docs, self.sample_dir)
        self.ref = check.daily_reference(self.docs)
        self.passes = 0

    def _pass(self) -> list[str]:
        """One full pass; returns mismatches against the reference."""
        from etl_weather_spark.operators import pipeline
        from etl_weather_spark.report import render_report
        from etl_weather_spark.sources import openmeteo

        run, tr = self.run, self.run.tracer
        rid = f"pass{self.passes}"
        self.passes += 1
        raw = os.path.join(run.tmp, "weather", "raw")
        out = os.path.join(run.tmp, "weather", "out", rid)
        os.makedirs(out, exist_ok=True)
        with tr.span("sources.land", rid):
            for city in self.cities:
                openmeteo.land_raw(
                    city, raw, days=DAYS, offline=True, sample_dir=self.sample_dir, now="20250101T000000"
                )
        spark = run.spark
        w = openmeteo.normalize_hourly(
            openmeteo.read_raw_json(spark, f"{raw}/*_weather_latest.json", openmeteo.HOURLY_WEATHER_FIELDS),
            openmeteo.HOURLY_WEATHER_FIELDS,
        )
        a = openmeteo.normalize_hourly(
            openmeteo.read_raw_json(spark, f"{raw}/*_air_latest.json", openmeteo.HOURLY_AIR_FIELDS),
            openmeteo.HOURLY_AIR_FIELDS,
        )
        daily_df = pipeline.daily_from_hourly(pipeline.merge_hourly(w, a))
        summary_df = pipeline.summary_from_daily(daily_df)
        with tr.span("operators.pipeline", rid):
            with run.job_group("w=weather_etl q=daily phase=exec"):
                daily = [r.asDict() for r in daily_df.collect()]
            with run.job_group("w=weather_etl q=summary phase=exec"):
                summary = [r.asDict() for r in summary_df.collect()]
        by_city: dict[str, list[dict]] = {}
        for d in daily:
            by_city.setdefault(d["city"], []).append(d)
        with tr.span("report.write", rid):
            for s in summary:
                rows = by_city.get(s["city"], [])
                with open(os.path.join(out, f"{s['city']}.csv"), "w", newline="", encoding="utf-8") as f:
                    wr = csv.DictWriter(f, fieldnames=list(rows[0]))
                    wr.writeheader()
                    wr.writerows(rows)
                with tr.span("report.render", rid):
                    page = render_report(
                        title=s["city"],
                        summary={
                            "period_avg": s["period_pm25_avg"],
                            "period_max": s["period_temp_max"],
                            "wettest_date": s["wettest_date"],
                            "wettest_sum": s["wettest_rain"],
                            "rainy_days": s["rainy_days"],
                            "n_days": s["n_days"],
                        },
                        daily=[
                            {"date": d["date"], "vavg": d["pm25_avg"], "vsum": d["total_rain"]}
                            for d in rows
                            if d["pm25_avg"] is not None
                        ],
                        recommendation=s["recommendation"],
                    )
                with open(os.path.join(out, f"{s['city']}.html"), "w", encoding="utf-8") as f:
                    f.write(page)
                tr.count("report.bytes_out", len(page.encode("utf-8")))
        tr.count("operators.output_rows", len(daily) + len(summary))
        run.record_pins()
        return check.check_daily(daily, self.ref) + check.check_summary(summary, daily)

    def _checked_pass(self) -> float:
        t0 = time.perf_counter()
        bad = self._pass()
        dt = time.perf_counter() - t0
        self.run.op(not bad, "; ".join(bad[:3]))
        return dt

    def setup(self) -> float:
        return self._checked_pass()

    def close(self) -> None:
        pass

    def restarted(self) -> None:
        """One checked, untimed pass: the first pass on a new session is slow."""
        self._checked_pass()

    def warm_up(self) -> None:
        for _ in range(WARMUP_OPS):
            self._checked_pass()

    def measure(self, seconds: float) -> dict:
        lat = []
        t0 = time.perf_counter()
        while not lat or time.perf_counter() - t0 < seconds:
            lat.append(self._checked_pass() * 1000.0)
        return {"lat_ms": lat}

    def layer_metrics(self, groups: dict) -> dict:
        tr = self.run.tracer
        tot = eventlog.total(groups, "w=weather_etl")
        n = max(len(_durations(tr, "operators.pipeline")), 1)  # traced passes
        return {
            "sources.land_s": sum(x for x in _durations(tr, "sources.land")) / n,
            "sources.scan_task_s": tot["scan_task_s"] / n,
            "sources.scan_tasks": tot["scan_tasks"] / n,
            "sources.input_bytes": tot["input_bytes"] / n,
            "sources.input_records": tot["input_records"] / n,
            "sources.records_per_result": tot["input_records"] / max(tr.counters["operators.output_rows"], 1),
            "operators.pipeline_s": sum(_durations(tr, "operators.pipeline")) / n,
            "operators.task_s": tot["task_s"] / n,
            "operators.stages": tot["stages"] / n,
            "operators.tasks": tot["tasks"] / n,
            "operators.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
            "operators.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
            "operators.spill_bytes": tot["spill_bytes"] / n,
            "report.render_s": sum(_durations(tr, "report.render")) / n,
            "report.bytes_out": tr.counters["report.bytes_out"] / n,
        }


def _durations(tracer, name: str) -> list[float]:
    return [end - start for _sid, nm, start, end, _p, _r in tracer.spans if nm == name]
