"""Streaming distribution-drift monitor: per-micro-batch two-sample
Kolmogorov–Smirnov statistic against a REFERENCE histogram — the
continuous form of ``queries.ks_drift_audit``, run at the ingestion
edge so a crawler or upstream format change is caught the batch it
lands, not at the next nightly audit.

Design: the reference distribution is captured ONCE as a quantized
(value, count) histogram (a tiny relation — bounded by value
cardinality, not rows) and joined against each batch's equally tiny
histogram; D = max_x |F_ref(x) − F_batch(x)| over the union of values,
gaps rounded at 6 dp — the SAME ``ks_from_histograms`` helper the
batch audit query runs, so the algebra literally cannot diverge
(asserted equal in tests). NULL values carry no histogram mass (both
sides drop them — engines order NULLs differently in cumulative
windows, so including them would break cross-engine parity). Each
trigger overwrites one (batch_id, n_rows, ks_stat6, drifted) row under
``batch_id=N``, so foreachBatch's at-least-once replays rewrite
content-identical stats (``streaming/_state.write_batch``, the
output every streaming surface shares).

Scale: per trigger the work is one value-keyed partial agg over the
BATCH plus a tiny histogram-union join against the reference; the
reference never rescans. State lives in the reference artifact, not
the stream — restarts need no state-store recovery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.fence import fence
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = [
    "reference_histogram",
    "batch_ks_stat",
    "read_drift_stats",
    "stream_drift_monitor",
]


def read_drift_stats(spark, stats_dir: str) -> DataFrame:
    """Read a (long-lived) stats directory tolerant of the round-7
    schema addition: pre-upgrade ``batch_id=N`` partitions lack the
    ``all_null`` column, so a plain read would either miss it or fail
    depending on which footer wins schema inference — mergeSchema
    unions the schemas and old rows surface as all_null=false (a
    written row always had a real statistic before the column
    existed)."""
    df = spark.read.option("mergeSchema", "true").parquet(stats_dir)
    if "all_null" not in df.columns:
        df = df.withColumn("all_null", F.lit(False))
    return df.withColumn(
        "all_null", F.coalesce(F.col("all_null"), F.lit(False))
    )


def reference_histogram(
    docs: DataFrame,
    *,
    value_col: str = "n_chars",
    bucket_width: float | None = None,
) -> DataFrame:
    """Quantized (x, c) histogram of the reference corpus — the standing
    artifact the monitor compares every batch against (persist it to
    the lakehouse in production; it is value-cardinality-sized).

    ``bucket_width`` buckets x to ``floor(x / width)`` so a
    wide-ranging or floating-point value column stays bounded BY
    CONSTRUCTION (the ks_from_histograms discipline); pass the same
    width to the monitor so both sides bucket identically.
    """
    x = F.col(value_col).cast("long")
    if bucket_width is not None:
        x = F.floor(
            F.col(value_col).cast("double") / F.lit(float(bucket_width))
        ).cast("long")
    h = (
        docs.select(x.alias("x"))
        .filter(F.col("x").isNotNull())
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    if bucket_width is not None:
        # bind the width INTO the artifact: a persisted reference built
        # at one width compared against batches bucketed at another
        # would silently match nothing (raw values vs bucket ids) —
        # batch_ks_stat reads the column and refuses a mismatch
        h = h.withColumn("bucket_width", F.lit(float(bucket_width)))
    return h


def _paired_histograms(
    batch: DataFrame,
    ref_hist: DataFrame,
    value_col: str,
    bucket_width: float | None,
) -> tuple[DataFrame, DataFrame]:
    """(reference, batch) histograms bucketed at the same width. The
    width bound into the reference wins, and a monitor configured with
    a different one refuses loudly (shared by the KS and PSI monitors).
    """
    if "bucket_width" in ref_hist.columns:
        widths = [
            r.bucket_width
            for r in ref_hist.select("bucket_width").distinct().collect()
        ]
        ref_width = widths[0] if widths else None
        if (
            bucket_width is not None
            and ref_width is not None
            and float(bucket_width) != float(ref_width)
        ):
            raise ValueError(
                f"reference histogram was built with bucket_width="
                f"{ref_width}, monitor configured with {bucket_width} — "
                "the comparison would silently match nothing"
            )
        bucket_width = ref_width if ref_width is not None else bucket_width
        ref_hist = ref_hist.drop("bucket_width")
    bh = reference_histogram(
        batch, value_col=value_col, bucket_width=bucket_width
    ).drop("bucket_width")
    return ref_hist, bh


def batch_ks_stat(
    batch: DataFrame,
    ref_hist: DataFrame,
    *,
    value_col: str = "n_chars",
    threshold: float = 0.2,
    bucket_width: float | None = None,
) -> DataFrame:
    """One-row (n_rows, ks_stat6, drifted): the exact KS algebra of
    queries.ks_drift_audit with the reference side precomputed.

    The cumulative window runs over the union of DISTINCT values of
    both histograms (never a row sort); missing values on either side
    contribute zero mass at that point, which is exactly the step-CDF
    semantics. An EMPTY batch yields n_rows=0, ks_stat6=NULL,
    drifted=false — a visible degenerate case, never a false alarm.
    """
    from etl_weather_spark.operators.ks import ks_from_histograms

    ref_hist, bh = _paired_histograms(batch, ref_hist, value_col, bucket_width)
    ks = ks_from_histograms(ref_hist, bh, threshold=threshold)
    return ks.select(
        F.col("n_b").alias("n_rows"),
        F.when(F.col("n_b") > 0, F.col("ks_stat6")).alias("ks_stat6"),
        (F.col("drifted") & (F.col("n_b") > 0)).alias("drifted"),
    )


def _process_stat_batch(
    batch_df: DataFrame,
    batch_id: int,
    stat,
    stat_col: str,
    flag_col: str,
    *,
    stats_dir: str,
    **stat_kwargs,
) -> None:
    """foreachBatch body of the KS and PSI monitors: ``stat(batch,
    **stat_kwargs)`` gives one (n_rows, <stat_col>, <flag_col>) row,
    written under ``batch_id=N`` (a replay overwrites identical bytes).
    """
    if batch_df.isEmpty():
        return
    row = stat(batch_df, **stat_kwargs).collect()[0]
    # A NON-empty batch whose value_col is entirely NULL has zero
    # histogram mass (n_rows=0, statistic NULL) — exactly the
    # upstream-schema-break drift these monitors exist to catch, so it
    # must surface as an explicit all_null alarm row, never a
    # float(None) crash that kills the streaming query. n_rows itself
    # is NULL (not 0) when BOTH histograms are empty — an all-NULL
    # reference corpus meeting an all-NULL batch gives the histogram
    # join nothing, whose group-less agg max() returns one all-NULL
    # row — so the guard must tolerate None too.
    all_null = int(row.n_rows or 0) == 0
    out = batch_df.sparkSession.createDataFrame(
        [(
            int(batch_id),
            int(row.n_rows or 0),
            None if all_null else float(row[stat_col]),
            bool(row[flag_col]),
            all_null,
        )],
        f"batch_id long, n_rows long, {stat_col} double, {flag_col} boolean, "
        "all_null boolean",
    )
    write_batch(out.coalesce(1), stats_dir, batch_id)


def process_drift_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    ref_hist: DataFrame,
    stats_dir: str,
    value_col: str = "n_chars",
    threshold: float = 0.2,
    bucket_width: float | None = None,
) -> None:
    """foreachBatch body — idempotent: ``batch_id=N`` overwrites with
    identical bytes on replay."""
    _process_stat_batch(
        batch_df,
        batch_id,
        batch_ks_stat,
        "ks_stat6",
        "drifted",
        stats_dir=stats_dir,
        ref_hist=ref_hist,
        value_col=value_col,
        threshold=threshold,
        bucket_width=bucket_width,
    )


def stream_drift_monitor(
    docs_stream: DataFrame,
    *,
    ref_hist: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
):
    """Wire the monitor onto a document stream: one KS row per
    micro-batch under ``stats_dir``."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        process_drift_batch,
        ref_hist=fence(ref_hist),
        stats_dir=stats_dir,
    )
