"""Stateful streaming: session windows (stream == batch) and
applyInPandasWithState running totals across micro-batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.streaming.daily_stream import read_event_stream
from etl_weather_spark.streaming.stateful import (
    running_user_totals,
    session_user_agg,
)

BATCH1 = [
    {"event_id": 1, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "view", "value": 10.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T01:30:00", "user_id": 1, "event_type": "click", "value": 5.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 2, "event_type": "view", "value": 7.0, "props": "{}"},
]
BATCH2 = [
    # user 1: new session (>2h after the last), user 2: extends session
    {"event_id": 4, "ts": "2024-01-01T06:00:00", "user_id": 1, "event_type": "view", "value": 2.0, "props": "{}"},
    {"event_id": 5, "ts": "2024-01-01T02:00:00", "user_id": 2, "event_type": "view", "value": 3.0, "props": "{}"},
    # watermark sentinel: far future so every real session closes
    {"event_id": 99, "ts": "2024-02-01T00:00:00", "user_id": -1, "event_type": "view", "value": 0.0, "props": "{}"},
]


def _write_batches(tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in BATCH1))
    (src / "b2.json").write_text("\n".join(json.dumps(e) for e in BATCH2))
    return src


def test_session_window_stream_matches_batch(spark, tmp_path):
    src = _write_batches(tmp_path)
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    agg = session_user_agg(stream, gap="2 hours", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, r.session_start.isoformat()): (r.n_events, r.vsum)
        for r in spark.sql("SELECT * FROM t_sessions WHERE user_id >= 0").collect()
    }

    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in BATCH1 + BATCH2[:-1]],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r.user_id, r.session_start.isoformat()): (r.n_events, r.vsum)
        for r in session_user_agg(batch_df, gap="2 hours").collect()
    }

    assert streamed == batch
    # user 1: two sessions (01:00 block, 06:00 singleton); user 2: one
    assert len([k for k in batch if k[0] == 1]) == 2
    assert len([k for k in batch if k[0] == 2]) == 1
    assert batch[(1, "2024-01-01T01:00:00")] == (2, 15.0)


def test_running_user_totals_across_batches(spark, tmp_path):
    src = _write_batches(tmp_path)
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_running")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_running WHERE user_id >= 0").collect()

    # user 1 appears in both triggers → two emissions with growing totals
    u1 = sorted((r for r in rows if r.user_id == 1), key=lambda r: r.n_events)
    assert [r.n_events for r in u1] == [2, 3]
    assert u1[-1].total == 17.0 and u1[-1].vmax == 10.0
    assert [r.batch_rows for r in u1] == [2, 1]
    # final state equals the batch aggregate for every user
    finals = {r.user_id: r for r in rows if r.n_events == max(x.n_events for x in rows if x.user_id == r.user_id)}
    assert finals[2].n_events == 2 and finals[2].total == 10.0 and finals[2].vmax == 7.0


def test_dedup_stream_drops_repeats(spark, tmp_path):
    from etl_weather_spark.streaming.stateful import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    dup = dict(BATCH1[0])  # event_id 1 repeated in a later file
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in BATCH1))
    (src / "b2.json").write_text("\n".join(json.dumps(e) for e in [dup] + BATCH2))

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT event_id FROM t_dedup").collect()
    ids = sorted(r.event_id for r in rows)
    # 6 distinct events in, 7 rows with one repeat → repeat dropped
    assert ids == [1, 2, 3, 4, 5, 99]


def _has_protobuf() -> bool:
    try:
        from etl_weather_spark._vendor import ensure_protobuf

        ensure_protobuf()  # activates the vendored runtime if needed
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (state "
    "protocol); neither a real install nor the vendored minimal "
    "runtime (etl_weather_spark/_vendor) could be activated",
)
def test_ewma_anomalies_across_batches(spark, tmp_path):
    from etl_weather_spark.streaming.stateful import ewma_anomalies

    normal = [
        {"event_id": i, "ts": f"2024-01-01T0{i}:00:00", "user_id": 1,
         "event_type": "view", "value": 10.0 + (i % 2), "props": "{}"}
        for i in range(1, 5)
    ]
    spike = [
        {"event_id": 9, "ts": "2024-01-01T09:00:00", "user_id": 1,
         "event_type": "view", "value": 500.0, "props": "{}"},
        {"event_id": 10, "ts": "2024-01-01T10:00:00", "user_id": 2,
         "event_type": "view", "value": 1.0, "props": "{}"},
    ]
    src = tmp_path / "ewma_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in normal))
    (src / "b2.json").write_text("\n".join(json.dumps(e) for e in spike))

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    # transformWithState requires the RocksDB state store
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            ewma_anomalies(stream)
            .writeStream.format("memory")
            .queryName("t_ewma")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = spark.sql("SELECT * FROM t_ewma ORDER BY user_id, ts").collect()

    u1 = [r for r in rows if r.user_id == 1]
    assert len(u1) == 5
    # the 500.0 spike fires against state carried from the PREVIOUS batch
    assert [r.is_anomaly for r in u1] == [False, False, False, False, True]
    # warm-up: user 2's first event can never alert
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 1 and not u2[0].is_anomaly
    # ewma evolved: last ewma reflects the spike blended in
    assert u1[-1].ewma > 100


def test_ewma_processor_logic_direct():
    """The EWMA/anomaly state machine itself, no streaming runtime:
    drive handleInputRows with a fake state handle across two batches."""
    import pandas as pd

    from etl_weather_spark.streaming.stateful import EwmaAnomalyProcessor

    class FakeState:
        def __init__(self):
            self.val = None

        def exists(self):
            return self.val is not None

        def get(self):
            return self.val

        def update(self, v):
            self.val = v

    proc = EwmaAnomalyProcessor(alpha=0.3)
    proc._state = FakeState()

    b1 = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=4, freq="h"),
         "value": [10.0, 11.0, 10.0, 11.0]}
    )
    out1 = pd.concat(proc.handleInputRows((1,), iter([b1]), None))
    assert list(out1["is_anomaly"]) == [False] * 4

    b2 = pd.DataFrame(
        {"ts": pd.date_range("2024-01-02", periods=1, freq="h"), "value": [500.0]}
    )
    out2 = pd.concat(proc.handleInputRows((1,), iter([b2]), None))
    # spike fires against EWMA state carried across the batch boundary
    assert list(out2["is_anomaly"]) == [True]
    assert out2["ewma"].iloc[0] > 100
    ewma, n = proc._state.get()
    assert n == 5 and ewma > 100


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Purchases attribute to preceding views within the horizon, across
    micro-batch boundaries (the purchase in b2 must find the b1 view
    buffered in join state)."""
    from etl_weather_spark.streaming.stream_joins import attributed_purchases

    views = [
        {"event_id": 10, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 11, "ts": "2024-01-01T01:20:00", "user_id": 1, "event_type": "view", "value": 0.0, "props": "{}"},
        {"event_id": 12, "ts": "2024-01-01T01:00:00", "user_id": 2, "event_type": "view", "value": 0.0, "props": "{}"},
    ]
    purchases_b1 = [
        {"event_id": 20, "ts": "2024-01-01T01:25:00", "user_id": 1, "event_type": "purchase", "value": 9.0, "props": "{}"},
    ]
    purchases_b2 = [
        # arrives a micro-batch later but still joins the b1 views
        {"event_id": 21, "ts": "2024-01-01T01:45:00", "user_id": 1, "event_type": "purchase", "value": 3.0, "props": "{}"},
        # outside the 30-min horizon of user 2's only view -> no match
        {"event_id": 22, "ts": "2024-01-01T02:00:00", "user_id": 2, "event_type": "purchase", "value": 1.0, "props": "{}"},
        # watermark sentinel: closes all state
        {"event_id": 99, "ts": "2024-02-01T00:00:00", "user_id": -1, "event_type": "purchase", "value": 0.0, "props": "{}"},
    ]
    vsrc = tmp_path / "views"; vsrc.mkdir()
    psrc = tmp_path / "purchases"; psrc.mkdir()
    (vsrc / "b1.json").write_text("\n".join(json.dumps(e) for e in views))
    (psrc / "b1.json").write_text("\n".join(json.dumps(e) for e in purchases_b1))
    (psrc / "b2.json").write_text("\n".join(json.dumps(e) for e in purchases_b2))

    vstream = read_event_stream(spark, str(vsrc), max_files_per_trigger=1)
    pstream = read_event_stream(spark, str(psrc), max_files_per_trigger=1)
    joined = attributed_purchases(vstream, pstream)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, r.view_id, r.purchase_id, r.lag_sec)
        for r in spark.sql("SELECT * FROM t_attrib WHERE user_id >= 0").collect()
    }

    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    as_df = lambda rows: spark.createDataFrame(
        [tuple(e.values()) for e in rows], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r.user_id, r.view_id, r.purchase_id, r.lag_sec)
        for r in attributed_purchases(
            as_df(views), as_df(purchases_b1 + purchases_b2[:-1])
        ).collect()
    }

    assert streamed == batch
    # purchase 20 matches both user-1 views; purchase 21 (cross-batch)
    # matches only the 01:20 view; user 2's purchase matches nothing
    assert streamed == {
        (1, 10, 20, 1500),
        (1, 11, 20, 300),
        (1, 11, 21, 1500),
    }


def test_stream_stream_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER interval join: matched views emit eagerly; an
    unmatched view emits with NULL purchase once the global watermark
    passes view_ts + horizon (driven here by heartbeat rows); and the
    emitted set for settled users equals the batch left join."""
    from etl_weather_spark.streaming.stream_joins import view_attribution_outer

    def ev(eid, ts, uid, etype):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": etype, "value": 0.0, "props": "{}"}

    views_b1 = [
        ev(101, "2024-01-01T01:00:00", 1, "view"),   # will match p201
        ev(102, "2024-01-01T01:05:00", 2, "view"),   # never matches
    ]
    purchases_b1 = [ev(201, "2024-01-01T01:10:00", 1, "purchase")]
    # heartbeats: advance BOTH sides' watermarks (global wm = min)
    views_b2 = [ev(109, "2024-01-01T03:00:00", 9, "view")]
    purchases_b2 = [ev(209, "2024-01-01T03:00:00", 9, "purchase")]
    # third batch executes WITH the 03:00 watermark -> evicts/emits u2
    views_b3 = [ev(108, "2024-01-01T05:00:00", 8, "view")]
    purchases_b3 = [ev(208, "2024-01-01T05:00:00", 8, "purchase")]

    vsrc = tmp_path / "v"; vsrc.mkdir()
    psrc = tmp_path / "p"; psrc.mkdir()
    for name, rows in [("b1", views_b1), ("b2", views_b2), ("b3", views_b3)]:
        (vsrc / f"{name}.json").write_text("\n".join(json.dumps(e) for e in rows))
    for name, rows in [("b1", purchases_b1), ("b2", purchases_b2), ("b3", purchases_b3)]:
        (psrc / f"{name}.json").write_text("\n".join(json.dumps(e) for e in rows))

    vstream = read_event_stream(spark, str(vsrc), max_files_per_trigger=1)
    pstream = read_event_stream(spark, str(psrc), max_files_per_trigger=1)
    q = (
        view_attribution_outer(vstream, pstream)
        .writeStream.format("memory")
        .queryName("t_outer_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    settled = {
        (r.user_id, r.view_id, r.purchase_id, r.lag_sec)
        for r in spark.sql(
            "SELECT * FROM t_outer_attrib WHERE user_id IN (1, 2)"
        ).collect()
    }
    # u1's view matched eagerly; u2's view emitted as an outer null
    assert settled == {(1, 101, 201, 600), (2, 102, None, None)}

    # batch parity on the settled users: same function, static frames
    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    as_df = lambda rows: spark.createDataFrame(
        [tuple(e.values()) for e in rows], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r.user_id, r.view_id, r.purchase_id, r.lag_sec)
        for r in view_attribution_outer(
            as_df(views_b1 + views_b2 + views_b3),
            as_df(purchases_b1 + purchases_b2 + purchases_b3),
        )
        .filter(F.col("user_id").isin(1, 2))
        .collect()
    }
    assert batch == settled


def test_timer_sessions_match_declarative_session_window(spark, tmp_path):
    """transformWithState with EVENT-TIME TIMERS reproduces the
    declarative session_window aggregation exactly: inline closes (gap
    seen within the data) and timer closes (watermark passes an idle
    session's horizon via the no-data batch) together equal the batch
    sessionization."""
    from etl_weather_spark.streaming.stateful import timer_sessions

    src = _write_batches(tmp_path)
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            timer_sessions(stream, gap="2 hours", watermark="0 seconds")
            .writeStream.format("memory")
            .queryName("t_timer_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    streamed = {
        (r.user_id, r.session_start.isoformat()): (
            r.session_end.isoformat(),
            r.n_events,
            r.vsum,
        )
        for r in spark.sql(
            "SELECT * FROM t_timer_sessions WHERE user_id >= 0"
        ).collect()
    }

    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in BATCH1 + BATCH2[:-1]],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r.user_id, r.session_start.isoformat()): (
            r.session_end.isoformat(),
            r.n_events,
            r.vsum,
        )
        for r in session_user_agg(batch_df, gap="2 hours").collect()
    }
    assert streamed == batch
    # both close paths exercised: user 1's first session closed INLINE
    # (the 06:00 event arrived >2h later), the 06:00 singleton and user
    # 2's session closed via TIMER (no later event for those users)
    assert (1, "2024-01-01T01:00:00") in streamed
    assert (1, "2024-01-01T06:00:00") in streamed
    assert (2, "2024-01-01T01:10:00") in streamed


def test_map_state_type_counts_match_batch(spark, tmp_path):
    """TWS MAP STATE: the latest emitted row per (user, event_type)
    equals the batch groupBy count over the same events, with counts
    carried ACROSS micro-batches through map entries."""
    from etl_weather_spark.streaming.stateful import user_type_counts

    src = _write_batches(tmp_path)
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            user_type_counts(stream)
            .writeStream.format("memory")
            .queryName("t_type_counts")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = spark.sql("SELECT * FROM t_type_counts").collect()
    latest = {}
    for r in rows:  # memory sink preserves emission order; last write wins
        latest[(r.user_id, r.event_type)] = r.n_events

    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in BATCH1 + BATCH2],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    batch = {
        (r.user_id, r.event_type): r.n
        for r in batch_df.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert latest == batch
    # cross-batch carry: user 1 'view' appears in both batches -> 2
    assert latest[(1, "view")] == 2


def test_initial_state_seeds_map_counts(spark, tmp_path):
    """TWS INITIAL STATE: a batch backfill (user, type, n) lands in map
    state before the first trigger, so streamed counts CONTINUE the
    historical totals — latest row per pair == backfill + stream."""
    from etl_weather_spark.streaming.stateful import user_type_counts_seeded

    seed = spark.createDataFrame(
        [(1, "view", 10), (1, "click", 3), (2, "view", 7)],
        "user_id long, event_type string, n_events long",
    )
    src = _write_batches(tmp_path)
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            user_type_counts_seeded(stream, seed)
            .writeStream.format("memory")
            .queryName("t_seeded_counts")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    latest = {}
    for r in spark.sql("SELECT * FROM t_seeded_counts").collect():
        latest[(r.user_id, r.event_type)] = r.n_events

    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in BATCH1 + BATCH2],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    stream_counts = {
        (r.user_id, r.event_type): r.n
        for r in batch_df.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    seeds = {(1, "view"): 10, (1, "click"): 3, (2, "view"): 7}
    expect = {
        k: stream_counts.get(k, 0) + seeds.get(k, 0)
        for k in set(stream_counts) | set(seeds)
    }
    # only pairs touched by the STREAM are re-emitted; seed-only pairs
    # stay in state silently
    touched = {k: v for k, v in expect.items() if k in stream_counts}
    assert latest == touched
    assert latest[(1, "view")] == 12  # 10 backfilled + 2 streamed


def test_timer_sessions_out_of_order_within_lateness(spark, tmp_path):
    """Out-of-order arrivals inside the watermark's allowed lateness:
    a later batch may LOWER a session's start, and a distant earlier
    event forms its own session — the multi-session ListState merge
    (a single-row state cannot represent this; the round-6 review
    caught exactly that)."""
    from etl_weather_spark.streaming.stateful import (
        session_user_agg,
        timer_sessions,
    )

    b1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7,
         "event_type": "view", "value": 1.0, "props": "{}"},
    ]
    # watermark after b1 = 10:00 - 1h = 09:00; both b2 events are on
    # time (>= 09:00) yet EARLIER than the open session
    b2 = [
        {"event_id": 2, "ts": "2024-01-01T09:55:00", "user_id": 7,
         "event_type": "view", "value": 2.0, "props": "{}"},  # merges, lowers start
        {"event_id": 3, "ts": "2024-01-01T09:10:00", "user_id": 7,
         "event_type": "view", "value": 4.0, "props": "{}"},  # own session
        {"event_id": 99, "ts": "2024-02-01T00:00:00", "user_id": -1,
         "event_type": "view", "value": 0.0, "props": "{}"},  # wm sentinel
    ]
    src = tmp_path / "ooo_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(e) for e in b2))
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            timer_sessions(stream, gap="10 minutes", watermark="1 hour")
            .writeStream.format("memory")
            .queryName("t_ooo_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {
        (r.user_id, r.session_start.isoformat()): (
            r.session_end.isoformat(), r.n_events, r.vsum,
        )
        for r in spark.sql(
            "SELECT * FROM t_ooo_sessions WHERE user_id >= 0"
        ).collect()
    }
    assert got == {
        (7, "2024-01-01T09:10:00"): ("2024-01-01T09:20:00", 1, 4.0),
        (7, "2024-01-01T09:55:00"): ("2024-01-01T10:10:00", 2, 3.0),
    }
    # and the declarative batch sessionization agrees
    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in b1 + b2[:-1]],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r.user_id, r.session_start.isoformat()): (
            r.session_end.isoformat(), r.n_events, r.vsum,
        )
        for r in session_user_agg(batch_df, gap="10 minutes").collect()
    }
    assert got == batch


def test_timer_sessions_null_ts_rows_carry_no_session_mass(spark, tmp_path):
    """ADVICE r6: (a) a null-ts event must NOT mint a bogus session at
    pd.Timestamp(NaT).value = -2^63 with an instantly-expired timer;
    (b) a key delivered with ONLY null-ts rows and no stored state must
    not IndexError on the empty merge list — it simply stays silent."""
    from etl_weather_spark.streaming.stateful import timer_sessions

    b1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7,
         "event_type": "view", "value": 1.0, "props": "{}"},
        # null ts on an OPEN-session key
        {"event_id": 2, "ts": None, "user_id": 7,
         "event_type": "view", "value": 50.0, "props": "{}"},
        # a key whose ONLY rows are null-ts (no state): empty merge set
        {"event_id": 3, "ts": None, "user_id": 8,
         "event_type": "view", "value": 9.0, "props": "{}"},
    ]
    b2 = [
        {"event_id": 99, "ts": "2024-02-01T00:00:00", "user_id": -1,
         "event_type": "view", "value": 0.0, "props": "{}"},  # wm sentinel
    ]
    src = tmp_path / "nullts_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(e) for e in b2))
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            timer_sessions(stream, gap="10 minutes", watermark="0 seconds")
            .writeStream.format("memory")
            .queryName("t_nullts_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {
        (r.user_id, r.session_start.isoformat()): (
            r.session_end.isoformat(), r.n_events, r.vsum,
        )
        for r in spark.sql(
            "SELECT * FROM t_nullts_sessions WHERE user_id >= 0"
        ).collect()
    }
    # user 7: exactly one session from the one real event (the null-ts
    # row contributed nothing); user 8: no sessions at all
    assert got == {
        (7, "2024-01-01T10:00:00"): ("2024-01-01T10:10:00", 1, 1.0),
    }
