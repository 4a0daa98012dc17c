"""Streaming sentence-grain dedup against a standing sentence-hash
index: each micro-batch of documents is windowed into fixed 8-token
pseudo-sentences, screened against every sentence hash the stream has
already accepted, deduped within the batch by the same corpus-first
keeper rule as the batch operator, and REBUILT — cleaned documents land
per batch while the index grows by exactly the batch's surviving
hashes. This is the continuous-ingestion form of
``operators/dedup.global_sentence_dedup``: a stream fed in doc_id order
produces byte-identical cleaned text to the batch operator over the
union of all batches (asserted by tests/test_streaming_sentence_ingest).

Exactly-once discipline (same contract as incremental_dedup /
media_ingest): foreachBatch is at-least-once, so both writes are
idempotent per batch id — cleaned docs overwrite ``clean/batch_id=N``
(``_state.write_batch``) and the index append records the batch's
commit marker (``snapshots.batch_marker``) that a replay finds and
skips.

Scale: only the new batch is windowed per trigger; the screen is a
left_anti join keyed on the 8-byte sentence hash with the micro-batch
as the small side; the index stores ONE long per distinct sentence ever
seen (no strings, no positions). Compact index snapshots periodically
(``snapshot_compact``) at high trigger rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.dedup import (
    _sentence_windows,
    keep_first_sentence_occurrence,
    rebuild_sentence_docs,
)
from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_append,
    snapshot_read,
)
from etl_weather_spark.streaming._state import start_batches, write_batch

QUERY_NAME = "sentence_dedup"


def process_sentence_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_table: str,
    clean_dir: str,
    sent_tokens: int = 8,
) -> None:
    """The foreachBatch body — also callable directly, and re-callable
    (replaying a batch id is a no-op for the index and a same-bytes
    rewrite for the cleaned docs)."""
    marker = batch_marker(batch_id)
    if marker_version(index_table, marker) is not None:
        return  # replay of an already-committed batch
    spark = batch_df.sparkSession
    sents = _sentence_windows(batch_df, sent_tokens=sent_tokens).withColumn(
        "h", F.xxhash64("sent")
    )
    if current_version(index_table) is not None:
        standing = snapshot_read(spark, index_table).select("h")
        fresh = sents.join(standing, "h", "left_anti")
    else:
        fresh = sents
    kept = keep_first_sentence_occurrence(fresh)
    cleaned = rebuild_sentence_docs(sents, kept)
    write_batch(cleaned, clean_dir, batch_id)
    # the batch's surviving hashes ARE its distinct fresh hashes (one
    # keeper per hash), so the index grows by exactly what was accepted
    snapshot_append(kept.select("h"), index_table, marker=marker)


def stream_sentence_dedup(
    docs_stream: DataFrame,
    *,
    index_table: str,
    clean_dir: str,
    checkpoint: str,
):
    """Wire the batch body into a streaming query."""
    return start_batches(
        docs_stream,
        checkpoint,
        process_sentence_batch,
        name=QUERY_NAME,
        index_table=index_table,
        clean_dir=clean_dir,
        sent_tokens=2,
    )
