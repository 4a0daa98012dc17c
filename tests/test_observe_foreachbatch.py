"""Observation-API metrics and foreachBatch gold materialization."""

from __future__ import annotations

import json

from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_weather_spark.sources.lakehouse import latest_view, stream_upsert_latest
from etl_weather_spark.streaming.daily_stream import read_event_stream


def test_observation_metrics_single_pass(spark, sf_dir):
    """df.observe: pipeline health metrics ride the action itself — no
    second scan over 100 TB just to count nulls."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = Observation("quality")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
        F.max("value").alias("max_value"),
    )
    n = observed.filter(F.col("value") > 0).count()
    m = obs.get
    assert m["rows"] > 0 and n <= m["rows"]
    assert m["null_values"] == 0
    assert m["max_value"] > 0


def test_foreachbatch_upsert_latest(spark, tmp_path):
    events = [
        {"event_id": 1, "ts": "2024-01-01T01:00:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T02:00:00", "user_id": 1,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ]
    update = dict(events[0], value=9.0, ts="2024-01-01T03:00:00")
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in events))
    (src / "b2.json").write_text(json.dumps(update))

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    gold = str(tmp_path / "gold")
    q = stream_upsert_latest(
        stream.withColumn("ingest_ts", F.col("ts")),
        gold,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    raw = spark.read.parquet(gold)
    assert raw.count() == 3  # blind appends: both versions of event 1
    latest = latest_view(raw, ["event_id"])
    got = {r.event_id: r.value for r in latest.collect()}
    assert got == {1: 9.0, 2: 2.0}  # view serves the newest per key
