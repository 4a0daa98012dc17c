"""Streaming corpus-quality monitor: per-micro-batch Gopher-composite
pass rate at the ingestion edge — the continuous form of
``queries.gopher_quality_gate``, so a crawler regression (boilerplate
flood, truncated pages, encoding breakage) alarms the batch it lands
instead of at the next nightly curation run.

Design: each batch runs the SAME ``gopher_quality_profile`` operator
the batch gate runs (one shared implementation — the algebra cannot
diverge; asserted equal in tests), rolled up to one
(batch_id, n_docs, n_keep, keep_rate6, low_quality) row. A NON-empty
batch in which every document fails still produces a visible
keep_rate6=0 alarm row — and a batch whose text column is entirely
NULL scores every doc as failing (NULL text has no words), never a
crash (the all-NULL lesson of the KS drift monitor, designed in from
the start here). Each trigger overwrites its ``batch_id=N`` partition,
so foreachBatch's at-least-once replays rewrite content-identical
stats (``streaming/_state.write_batch``, the output every streaming
surface shares).

Scale: per trigger the work is the gate's documented bounded plan over
ONE micro-batch (two doc-keyed explode→partial-agg passes plus a
projection); no state store — the monitor is stateless by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.functions.rounding import rnd
from etl_weather_spark.operators.textops import gopher_quality_profile
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = [
    "batch_quality_stats",
    "process_quality_batch",
    "stream_quality_monitor",
]


def batch_quality_stats(
    batch: DataFrame,
    *,
    threshold: float = 0.5,
    **gate_kwargs,
) -> DataFrame:
    """One-row (n_docs, n_keep, keep_rate6, low_quality) rollup of the
    Gopher composite over a batch. ``gate_kwargs`` pass through to
    :func:`gopher_quality_profile` (production pins the same tuned
    parameters the batch gate runs, e.g. ``min_stopwords=1``).

    An EMPTY batch yields n_docs=0, keep_rate6=NULL, low_quality=false
    — a visible degenerate row, never a false alarm.
    """
    prof = gopher_quality_profile(batch, **gate_kwargs)
    n = F.count(F.lit(1)).cast("long")
    k = F.coalesce(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)), F.lit(0)
    ).cast("long")
    return prof.agg(
        n.alias("n_docs"),
        k.alias("n_keep"),
        F.when(n > 0, rnd(k * 1.0 / n, 6)).alias("keep_rate6"),
        ((n > 0) & (rnd(k * 1.0 / F.greatest(n, F.lit(1)), 6) < threshold)).alias(
            "low_quality"
        ),
    )


def process_quality_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    stats_dir: str,
    threshold: float = 0.5,
    **gate_kwargs,
) -> None:
    """foreachBatch body — idempotent: ``batch_id=N`` overwrites with
    identical bytes on replay; the degenerate all-failing batch writes
    keep_rate6=0.0 / low_quality=true instead of raising."""
    if batch_df.isEmpty():
        return
    row = batch_quality_stats(
        batch_df, threshold=threshold, **gate_kwargs
    ).collect()[0]
    rate = None if row.keep_rate6 is None else float(row.keep_rate6)
    spark = batch_df.sparkSession
    out = spark.createDataFrame(
        [(int(batch_id), int(row.n_docs), int(row.n_keep), rate,
          bool(row.low_quality))],
        "batch_id long, n_docs long, n_keep long, keep_rate6 double, "
        "low_quality boolean",
    )
    write_batch(out.coalesce(1), stats_dir, batch_id)


def stream_quality_monitor(
    docs_stream: DataFrame,
    *,
    stats_dir: str,
    checkpoint_dir: str,
    **gate_kwargs,
):
    """Wire the monitor onto a document stream: one quality-rate row
    per micro-batch under ``stats_dir``."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        process_quality_batch,
        stats_dir=stats_dir,
        **gate_kwargs,
    )
