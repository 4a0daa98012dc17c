"""Streaming shard-manifest maintenance: the incremental form of
``queries.shard_assignment_stats`` — every ingested micro-batch is
shard-assigned by the SAME content-addressed hash (md5(doc_id) % 64)
and contributes one additive (shard_id, n_docs, id_checksum) partial
per batch; the standing manifest is the SUM over batch partials.

Why this shape: doc counts and id checksums are ADDITIVE, so the
manifest is mergeable exactly like the sketch tier (HLL/KLL/theta) —
the read side folds KBs of per-batch partials instead of rescanning
the corpus, and a batch replay (at-least-once foreachBatch) overwrites
its own ``batch_id=N`` partial with identical bytes, keeping the fold
exactly-once. Content-addressed assignment means a repartitioned or
re-ingested stream lands every document in the same shard, so the
incremental manifest equals the batch query's answer on the union of
batches (asserted in tests).

Scale: per trigger one 64-key map-side-combined agg over the BATCH;
the read-side fold is (batches × ≤64) rows — dashboard-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = [
    "shard_id_col",
    "process_manifest_batch",
    "read_shard_manifest",
    "stream_shard_manifest",
]

N_SHARDS = 64


def shard_id_col() -> F.Column:
    """The registry's content-addressed shard assignment
    (queries.shard_assignment_stats): md5 hex prefix → BIGINT % 64."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % N_SHARDS
    )


def process_manifest_batch(
    batch_df: DataFrame, batch_id: int, *, manifest_dir: str
) -> None:
    """foreachBatch body — idempotent: ``batch_id=N`` overwrites with
    identical bytes on replay (content-addressed assignment + additive
    partials, so the replayed agg is bit-identical)."""
    if batch_df.isEmpty():
        return
    part = (
        batch_df.select(shard_id_col().alias("shard_id"), "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )
    write_batch(part.coalesce(1), manifest_dir, batch_id)


def read_shard_manifest(spark, manifest_dir: str) -> DataFrame:
    """Fold the per-batch partials into the standing manifest — the
    additive merge (counts and checksums sum)."""
    parts = spark.read.parquet(manifest_dir)
    return (
        parts.groupBy("shard_id")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("id_checksum").cast("long").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )


def stream_shard_manifest(
    docs_stream: DataFrame, *, manifest_dir: str, checkpoint_dir: str
):
    """Wire manifest maintenance onto a document stream: one additive
    partial per micro-batch under ``manifest_dir``."""
    return start_batches(
        docs_stream, checkpoint_dir, process_manifest_batch, manifest_dir=manifest_dir
    )
