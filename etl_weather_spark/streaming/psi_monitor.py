"""Streaming Population-Stability-Index monitor: per-micro-batch PSI
against a REFERENCE histogram — the continuous form of
``queries.psi_drift_audit`` and the integrating companion to
``streaming/drift_monitor``'s KS (KS alarms on the single worst CDF
gap; PSI accumulates the WHOLE distribution shift, so a broad gentle
drift that never opens one large gap still trips it — the model-risk
convention: <0.1 stable, 0.1–0.25 moderate, >0.25 shifted).

Design mirrors the drift monitor deliberately: the reference is the
SAME quantized (value, count) histogram artifact (one reference feeds
both monitors), the per-batch statistic is the SAME
``psi_from_histograms`` helper the batch audit algebra is proven
against (asserted equal in tests), NULL values carry no histogram
mass, and each trigger overwrites one ``batch_id=N`` row so replays
rewrite identical bytes. A non-empty all-NULL batch writes an explicit
``all_null`` alarm row instead of crashing (the drift monitor's
learned lesson, designed in from the start here).

Scale: per trigger the work is one value-keyed partial agg over the
BATCH plus a bounded union join against the reference; the reference
never rescans; state lives in the reference artifact, not the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.fence import fence
from etl_weather_spark.streaming._state import start_batches
from etl_weather_spark.streaming.drift_monitor import (
    _paired_histograms,
    _process_stat_batch,
)

__all__ = ["batch_psi_stat", "process_psi_batch", "stream_psi_monitor"]


def batch_psi_stat(
    batch: DataFrame,
    ref_hist: DataFrame,
    *,
    value_col: str = "n_chars",
    threshold: float = 0.25,
    bucket_width: float | None = None,
) -> DataFrame:
    """One-row (n_rows, psi6, shifted): psi_from_histograms with the
    reference side precomputed. An empty (or all-NULL) batch yields
    n_rows=0 with a NULL statistic — visible, never a false alarm.

    Honors the ``bucket_width`` bound into the reference artifact the
    same way batch_ks_stat does: a monitor configured with a different
    width than the persisted reference refuses loudly.
    """
    from etl_weather_spark.operators.ks import psi_from_histograms

    ref_hist, bh = _paired_histograms(batch, ref_hist, value_col, bucket_width)
    psi = psi_from_histograms(ref_hist, bh, threshold=threshold)
    return psi.select(
        F.col("n_b").alias("n_rows"),
        F.when(F.col("n_b") > 0, F.col("psi6")).alias("psi6"),
        (F.col("shifted") & (F.col("n_b") > 0)).alias("shifted"),
    )


def process_psi_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    ref_hist: DataFrame,
    stats_dir: str,
    value_col: str = "n_chars",
    threshold: float = 0.25,
    bucket_width: float | None = None,
) -> None:
    """foreachBatch body — idempotent: ``batch_id=N`` overwrites with
    identical bytes on replay."""
    _process_stat_batch(
        batch_df,
        batch_id,
        batch_psi_stat,
        "psi6",
        "shifted",
        stats_dir=stats_dir,
        ref_hist=ref_hist,
        value_col=value_col,
        threshold=threshold,
        bucket_width=bucket_width,
    )


def stream_psi_monitor(
    docs_stream: DataFrame,
    *,
    ref_hist: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
):
    """Wire the monitor onto a document stream: one PSI row per
    micro-batch under ``stats_dir``."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        process_psi_batch,
        ref_hist=fence(ref_hist),
        stats_dir=stats_dir,
    )
