"""Streaming TRAINED-classifier scorer: per-micro-batch keep rate of
the GD-trained quality model at the ingestion edge — the deploy side
of ``queries.quality_classifier_train``, so a crawler regression shows
up as a keep-rate shift against the training-time rate the batch the
shift lands, not at the next nightly run.

Design: the weights are PINNED at deploy time (a dict of the trainer's
final 1-row output — collecting one 5-value row at deploy is the
centroid-pinning convention of the IVF index, not a per-batch driver
loop); each batch recomputes the SAME 6-dp lexical features the batch
trainer used (one shared implementation — ``_quality_logistic_core``'s
feature block — so the algebra cannot diverge) and scores with the
same left-associated 6-dp logit. Rollup: one (batch_id, n_docs,
n_scored, n_keep, keep_rate6, rate_delta6, drifted) row per trigger.

Degenerate-batch contract (the KS-monitor lesson, designed in):
- EMPTY batch → no write (nothing to alarm on);
- all-NULL / tokenless text → those docs produce NO feature row, so
  ``n_scored < n_docs`` makes them VISIBLE, they count as not-keep in
  the rate, and a whole batch of them emits a keep_rate6=0 alarm row,
  never a crash;
- at-least-once replays overwrite ``batch_id=N`` with identical bytes
  (``streaming/_state.write_batch``).

Scale: per trigger, one token-pass partial agg over ONE micro-batch +
a broadcast 5-constant projection; stateless — no state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.functions.rounding import rnd
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = [
    "batch_classifier_stats",
    "pin_trained_weights",
    "process_classifier_batch",
    "score_docs_batch",
    "stream_classifier_scorer",
]

_WEIGHT_KEYS = ("wb", "w1", "w2", "w3", "w4")


def pin_trained_weights(spark, sf_dir: str) -> dict[str, float]:
    """Pin the COMMITTED model's final weights as plain floats — the
    one-row deploy-time collect (the IVF centroid convention). Reads
    the trainer's committed registry artifact (compute-if-absent: the
    first deploy after a corpus change trains and publishes), so the
    stream scores with exactly the bytes the batch audits verified."""
    from etl_weather_spark.queries import _qct_weights

    row = _qct_weights(spark, sf_dir).collect()[0]
    return {k: float(row[k]) for k in _WEIGHT_KEYS}


def score_docs_batch(batch: DataFrame, weights: dict[str, float]) -> DataFrame:
    """(doc_id, z, keep) for one batch — the trainer's own feature and
    logit algebra with the pinned weights as literals."""
    from etl_weather_spark.queries import _quality_logistic_core

    missing = [k for k in _WEIGHT_KEYS if k not in weights]
    if missing:
        raise ValueError(f"weights missing keys: {missing}")
    feats = _quality_logistic_core(batch).select(
        "doc_id", "f_distinct", "f_top", "f_len", "f_stop"
    )
    z = rnd(
        F.lit(weights["wb"])
        + F.lit(weights["w1"]) * F.col("f_distinct")
        + F.lit(weights["w2"]) * F.col("f_top")
        + F.lit(weights["w3"]) * F.col("f_len")
        + F.lit(weights["w4"]) * F.col("f_stop"),
        6,
    )
    return feats.select("doc_id", z.alias("z"), (z > 0).alias("keep"))


def batch_classifier_stats(
    batch: DataFrame,
    weights: dict[str, float],
    *,
    train_keep_rate: float | None = None,
    tol: float = 0.2,
) -> DataFrame:
    """One-row rollup: docs in batch, docs that produced a score
    (tokenless text drops out of the feature pass and is counted as
    not-keep — visible, never silently ignored), keep count/rate, the
    delta against the training-time keep rate, and the drift verdict.
    """
    n_docs = batch.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = score_docs_batch(batch, weights)
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.coalesce(F.sum(F.when(F.col("keep"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_keep"),
    )
    out = n_docs.crossJoin(F.broadcast(agg))
    rate = F.when(
        F.col("n_docs") > 0,
        rnd(F.col("n_keep") * 1.0 / F.greatest(F.col("n_docs"), F.lit(1)), 6),
    )
    out = out.select("n_docs", "n_scored", "n_keep", rate.alias("keep_rate6"))
    if train_keep_rate is None:
        return out.select(
            "*",
            F.lit(None).cast("double").alias("rate_delta6"),
            F.lit(False).alias("drifted"),
        )
    delta = rnd(F.abs(F.col("keep_rate6") - F.lit(float(train_keep_rate))), 6)
    return out.select(
        "*",
        delta.alias("rate_delta6"),
        ((F.col("n_docs") > 0) & (delta > F.lit(float(tol)))).alias("drifted"),
    )


def process_classifier_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    stats_dir: str,
    weights: dict[str, float],
    train_keep_rate: float | None = None,
    tol: float = 0.2,
) -> None:
    """foreachBatch body — idempotent: ``batch_id=N`` overwrites with
    identical bytes on replay."""
    if batch_df.isEmpty():
        return
    row = batch_classifier_stats(
        batch_df, weights, train_keep_rate=train_keep_rate, tol=tol
    ).collect()[0]
    spark = batch_df.sparkSession
    # batch_id lives ONLY in the hive-partition directory name, never
    # in the written rows — a column present in both data and partition
    # schemas is handled inconsistently across Spark versions/configs
    # (duplicate-column errors under some settings); readers of the
    # stats root get batch_id back via partition discovery.
    out = spark.createDataFrame(
        [
            (
                int(row.n_docs),
                int(row.n_scored),
                int(row.n_keep),
                None if row.keep_rate6 is None else float(row.keep_rate6),
                None if row.rate_delta6 is None else float(row.rate_delta6),
                bool(row.drifted),
            )
        ],
        "n_docs long, n_scored long, n_keep long, "
        "keep_rate6 double, rate_delta6 double, drifted boolean",
    )
    write_batch(out.coalesce(1), stats_dir, batch_id)


def stream_classifier_scorer(
    docs_stream: DataFrame,
    *,
    stats_dir: str,
    checkpoint_dir: str,
    weights: dict[str, float],
):
    """Wire the scorer onto a document stream: one keep-rate row per
    micro-batch under ``stats_dir``, flagged drifted when the keep rate
    leaves 0.9 ± 0.3."""

    return start_batches(
        docs_stream,
        checkpoint_dir,
        process_classifier_batch,
        stats_dir=stats_dir,
        weights=weights,
        train_keep_rate=0.9,
        tol=0.3,
    )
