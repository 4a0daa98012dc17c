"""Streaming multimodal ingest: perceptual dedup of an image stream.

The multimodal twin of ``streaming/incremental_dedup`` — each
micro-batch of (media_id, payload) rows is decoded through the real
PNG codec, perceptually hashed (``operators/multimodal.image_dhash``:
zlib inflate → unfilter → block means → 64 gradient bits), and screened
with the SAME Manku banding the text path uses:

- WITHIN the batch: :func:`operators.dedup.simhash_band_pairs`;
- AGAINST the standing dhash index:
  :func:`operators.dedup.simhash_cross_pairs` (index × new only).

Every new signature is appended to the index regardless of flags (the
index records what was SEEN; keep/drop policy is the consumer's), which
gives the exact stream==batch contract tested in
tests/test_streaming_multimodal.py: the union of flagged pairs across
any partition of the corpus into micro-batches equals the batch-mode
pair set — each pair lands either inside one batch or across the index
boundary, never twice, never dropped.

Exactly-once discipline (same as incremental_dedup / corpus_ingest):
foreachBatch is at-least-once, so flags land under ``batch_id=N``
through ``_state.write_batch`` and the index append carries the batch's
commit marker (``snapshots.batch_marker``) that makes replays skip.

Scale: decode+dhash is per-row CPU (Arrow-batched, no pixels leave the
task); the screen shuffles 16-bit band keys with the micro-batch as the
small side; the index scan reads 3-column signatures, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_weather_spark.operators.dedup import simhash_band_pairs, simhash_cross_pairs
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.operators.multimodal import image_dhash
from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_append,
    snapshot_read,
)
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = ["process_media_batch", "stream_media_ingest"]

QUERY_NAME = "media_ingest"


def process_media_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_table: str,
    flags_dir: str,
    max_hamming: int = 3,
    hot_band_cap: int | None = 64,
) -> None:
    """The foreachBatch body — re-callable: a replayed batch id is a
    full no-op (marker check precedes both writes).

    Flags schema: (earlier_id, later_id, hamming) — the earlier side is
    the smaller media_id within a batch, or the index row for cross
    pairs, so first-arrival-wins policies can drop ``later_id`` rows
    directly.
    """
    marker = batch_marker(batch_id)
    if marker_version(index_table, marker) is not None:
        return
    spark = batch_df.sparkSession
    from pyspark.sql import functions as F

    sigs = fence(image_dhash(batch_df), eager=True)
    within = simhash_band_pairs(
        sigs, id_col="media_id", max_hamming=max_hamming, hot_band_cap=hot_band_cap
    ).select(
        F.col("id_a").alias("earlier_id"),
        F.col("id_b").alias("later_id"),
        "hamming",
    )
    if current_version(index_table) is not None:
        index = snapshot_read(spark, index_table).select("media_id", "sig_hi", "sig_lo")
        cross = simhash_cross_pairs(
            index,
            sigs,
            id_col="media_id",
            index_id="earlier_id",
            new_id="later_id",
            max_hamming=max_hamming,
            hot_band_cap=hot_band_cap,
        )
        flags = within.unionByName(cross)
    else:
        flags = within
    write_batch(flags, flags_dir, batch_id)
    snapshot_append(
        sigs.select("media_id", "sig_hi", "sig_lo"), index_table, marker=marker
    )


def stream_media_ingest(
    media_stream: DataFrame,
    *,
    index_table: str,
    flags_dir: str,
    checkpoint: str,
):
    """Wire the batch body into a streaming query."""
    return start_batches(
        media_stream,
        checkpoint,
        process_media_batch,
        name=QUERY_NAME,
        index_table=index_table,
        flags_dir=flags_dir,
    )
