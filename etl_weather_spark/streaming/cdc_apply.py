"""Streaming CDC apply: micro-batches of change rows (upserts +
deletes) merged into a versioned snapshot table — the continuous form
of ``sources/snapshots.snapshot_merge`` and the write side of
``snapshot_changes``. Delta's ``APPLY CHANGES`` / Flink's upsert sink,
on plain parquet.

Exactly-once discipline (foreachBatch is at-least-once): every commit
records ``batch_marker(id)`` as its manifest marker; a replayed batch
whose marker is already in the history is skipped outright, so
reprocessing never double-applies a change.

Within-batch ordering: a CDC feed can carry several changes for one key
in one batch. With ``seq_col`` the LATEST change per key wins (row_number
over a per-key window ordered by seq desc, key as the final tie-break —
deterministic under any partitioning); without it the batch must be
key-unique (asserted nowhere — callers with replayed multi-change feeds
should always pass seq_col).

Scale: each trigger does one keyed full-outer join (target ⋈ batch) and
a copy-on-write commit. The batch side is small — Spark broadcasts it
under AQE; the rewrite cost is the table scan, which partition-pruned or
bucketed targets cut (see operators/merge.py scale notes). Old versions
remain time-travelable until ``expire_snapshots``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_weather_spark.operators.merge import merge_frames
from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_read,
    snapshot_write,
)
from etl_weather_spark.streaming._state import start_batches

__all__ = ["apply_changes_batch", "stream_apply_changes"]

#: value of ``op_col`` that marks a row as a delete; anything else upserts
DELETE_OP = "delete"

QUERY_NAME = "cdc_apply"


def apply_changes_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    table: str,
    on: list[str],
    seq_col: str | None = None,
    op_col: str | None = None,
) -> None:
    """The foreachBatch body — also callable directly; replaying a
    batch id is a no-op (idempotent via the snapshot commit marker)."""
    marker = batch_marker(batch_id)
    if marker_version(table, marker) is not None:
        return
    src = batch_df
    if seq_col is not None:
        w = Window.partitionBy(*on).orderBy(F.col(seq_col).desc(), *on)
        src = (
            src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    drop = [c for c in (seq_col, op_col) if c is not None]

    if current_version(table) is None:
        base = src
        if op_col is not None:
            base = base.filter(F.col(op_col) != DELETE_OP)
        snapshot_write(base.drop(*drop), table, mode="overwrite", ingest_ts=marker)
        return

    spark = batch_df.sparkSession
    target = snapshot_read(spark, table)
    delete_cond = (
        F.col(f"s.{op_col}") == DELETE_OP if op_col is not None else None
    )
    merged = merge_frames(target, src, on, delete_condition=delete_cond)
    snapshot_write(merged, table, mode="overwrite", ingest_ts=marker)


def stream_apply_changes(
    changes: DataFrame,
    *,
    table: str,
    checkpoint: str,
    on: list[str],
):
    """Wire a streaming change feed (ordered by ``seq``, ``op`` marking
    deletes) into the snapshot table. Returns the started
    StreamingQuery (``availableNow``: drains, then stops)."""
    return start_batches(
        changes,
        checkpoint,
        apply_changes_batch,
        name=QUERY_NAME,
        table=table,
        on=on,
        seq_col="seq",
        op_col="op",
    )
