"""Streaming incremental dedup: each micro-batch of documents is
screened against the persisted MinHash signature index, dup pairs are
flagged, and the batch's signatures are appended to the index — the
continuous-ingestion form of the batch loop in
``operators/dedup.minhash_sig_table`` / ``screen_against_sig_index``.

Exactly-once discipline: Structured Streaming may REPLAY a micro-batch
after a failure (foreachBatch is at-least-once), so both writes are
idempotent per batch id:

- flagged pairs land under ``flags/batch_id=N`` through
  ``_state.write_batch`` — a replay rewrites the same directory, never
  duplicates it;
- the index append records ``snapshots.batch_marker(N)`` as the
  snapshot's commit marker and a replay that finds its marker in the
  history SKIPS the append.

Scale: only the new batch is signed per trigger (signature = pure
function of text, the index is append-only); the screen join keys on
(band, bucket) with the micro-batch as the small side. The index scan
per trigger reads the sig table, not raw documents — at very high
trigger rates, compact the sig snapshots periodically
(``snapshot_compact``) so the manifest's directory list stays short.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_weather_spark.operators.dedup import minhash_sig_table, screen_against_sig_index
from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_append,
    snapshot_read,
)
from etl_weather_spark.streaming._state import start_batches, write_batch

QUERY_NAME = "incremental_dedup"


def process_doc_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_table: str,
    flags_dir: str,
    num_hashes: int = 16,
    bands: int = 8,
) -> None:
    """The foreachBatch body — also callable directly (and re-callable:
    replaying a batch id is a no-op for the index and a same-bytes
    rewrite for the flags)."""
    marker = batch_marker(batch_id)
    if marker_version(index_table, marker) is not None:
        return  # replay of an already-committed batch
    spark = batch_df.sparkSession
    new_sigs = minhash_sig_table(batch_df, num_hashes=num_hashes)
    if current_version(index_table) is not None:
        pairs = screen_against_sig_index(
            snapshot_read(spark, index_table), new_sigs, bands=bands
        )
    else:
        pairs = new_sigs.sparkSession.createDataFrame(
            [], "index_id long, new_id long"
        )
    write_batch(pairs, flags_dir, batch_id)
    snapshot_append(new_sigs, index_table, marker=marker)


def stream_incremental_dedup(
    docs_stream: DataFrame,
    *,
    index_table: str,
    flags_dir: str,
    checkpoint: str,
):
    """Wire the batch body into a streaming query."""
    return start_batches(
        docs_stream,
        checkpoint,
        process_doc_batch,
        name=QUERY_NAME,
        index_table=index_table,
        flags_dir=flags_dir,
    )
