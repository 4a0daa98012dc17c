"""Streaming ANN-index ingest: each micro-batch of new embedding rows
is encoded with the standing PQ index's FROZEN codebooks and its codes
snapshot-appended — the continuous-ingestion form of
``operators/ann_index.append_pq_index`` (which carries the exactly-once
commit-marker contract; foreachBatch is at-least-once, replays no-op).

The index must exist before the stream starts (build_pq_index) —
codebooks are a trained artifact, not per-batch state. Per trigger the
work is one Arrow-batched encode pass over the BATCH plus a
manifest-append; the standing code table is never rewritten or
re-scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_weather_spark.operators.ann_index import append_pq_index
from etl_weather_spark.sources.snapshots import batch_marker
from etl_weather_spark.streaming._state import start_batches

__all__ = ["stream_ann_ingest"]

QUERY_NAME = "ann_ingest"


def stream_ann_ingest(vec_stream: DataFrame, *, index_path: str, checkpoint: str):
    """Wire append_pq_index into a streaming query."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        append_pq_index(batch_df, index_path, marker=batch_marker(batch_id))

    return start_batches(vec_stream, checkpoint, body, name=QUERY_NAME)
