"""Stream-stream interval join: event attribution under watermarks.

The reference has no streaming at all (SURVEY.md §2.14 is the
extension surface); the batch analog here is the band join in
``operators/joins.range_join_bucketed`` (`error_after_click`). This is
the same semantics when both sides ARRIVE as streams: each purchase is
attributed to the view(s) that preceded it within a horizon, per user.

Scale notes (how Spark executes this):
- Both sides are hash-partitioned on the join key (user_id), so each
  task joins co-located slices — the same shuffle a batch join does,
  but incremental per micro-batch.
- State: each side buffers rows until the watermark says no match can
  still arrive. The time-bound join condition is what makes state
  finite — view rows are evicted once ``watermark > view_ts + horizon``
  — so state is O(events per horizon window), not O(stream history).
  An unbounded-condition stream-stream join would grow forever; Spark
  refuses it in append mode without watermarks on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(stream: DataFrame, dim: DataFrame, on: list[str] | str) -> DataFrame:
    """Stream-static dimension enrichment: the most common streaming
    join — each micro-batch of facts joins a (small) dimension table.

    Semantics worth knowing: the STATIC side is re-evaluated per
    micro-batch (a file-backed dim picks up slowly-changing updates at
    trigger granularity with no restart — asserted in
    tests/test_streaming_cdc_apply-style two-drain tests); no state is
    kept for the static side, and no watermark is needed. Broadcast the
    dim when small: Spark plans a broadcast hash join inside every
    micro-batch, so the stream side never shuffles.
    """
    return stream.join(F.broadcast(dim), on, "left")


def attributed_purchases(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Join each purchase to every view by the same user in the
    preceding 30 minutes — works identically on static frames (batch
    parity tests) and on streaming frames (0-second watermarks applied,
    state bounded by the 30-minute horizon).

    Returns (user_id, view_id, view_ts, purchase_id, purchase_ts,
    lag_sec).
    """
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if v.isStreaming:
        v = v.withWatermark("view_ts", "0 seconds")
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", "0 seconds")
    cond = (
        (v["user_id"] == p["p_user"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr("INTERVAL 30 minutes"))
    )
    return (
        v.join(p, cond, "inner")
        .select(
            "user_id",
            "view_id",
            "view_ts",
            "purchase_id",
            "purchase_ts",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
            ).alias("lag_sec"),
        )
    )


def view_attribution_outer(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join: EVERY view eventually
    emits — matched views carry their purchase(s) immediately (inner
    results don't wait), unmatched views emit with a NULL purchase once
    the watermark passes ``view_ts`` + 30 minutes and no match can still
    arrive. The "did this impression convert?" feed, nulls included.

    Same code runs on static frames (plain left join, everything emits
    at once — the batch-parity contract) and on streams, where the
    outer-null decision is exactly the state-eviction decision: a view
    row is held until the watermark proves the answer, then emitted
    once. Spark requires the time-bound condition + both watermarks for
    this reason — without them "no match can still arrive" is
    undecidable and outer state would grow forever.

    Emission latency is inherent: an unmatched view emits only when a
    LATER event advances the watermark past its horizon (or a no-data
    micro-batch flushes eligible state). Tests drive this with
    heartbeat rows.
    """
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if v.isStreaming:
        v = v.withWatermark("view_ts", "0 seconds")
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", "0 seconds")
    cond = (
        (v["user_id"] == p["p_user"])
        & (p["purchase_ts"] >= v["view_ts"])
        & (p["purchase_ts"] <= v["view_ts"] + F.expr("INTERVAL 30 minutes"))
    )
    return v.join(p, cond, "leftOuter").select(
        "user_id",
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).alias("lag_sec"),
    )
