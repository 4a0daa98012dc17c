"""Streaming corpus-ingest funnel: the continuous form of
``queries.corpus_prep_funnel``'s filter chain — each micro-batch of raw
documents is language-gated, quality-scored, exact-deduplicated (within
the batch AND against the standing fingerprint index), decontaminated
against a benchmark shingle set, and the survivors appended to the
accepted-corpus snapshot table with a per-batch stats row.

Semantics: FIRST-ARRIVAL WINS. A fingerprint already in the index
rejects the newcomer; within one batch the lowest doc_id keeps (the
same keep-min rule as the batch funnel, so feeding the files in id
order reproduces the batch result exactly — asserted in
tests/test_streaming_corpus_ingest.py).

Exactly-once discipline (same contract as streaming/incremental_dedup):
foreachBatch is at-least-once, so the snapshot append records the
batch's commit marker (``snapshots.batch_marker``) and a replayed batch
that finds its marker SKIPS; the stats row lands under
``stats/batch_id=N`` through ``_state.write_batch``, so a replay
rewrites the same bytes.

Scale: per trigger the work is one pass over the BATCH (profile +
fingerprint are map-side), one keyed anti join against the index's
(fingerprint) projection, and a broadcast join against the benchmark
shingles — never a rescan of the accepted corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_append,
    snapshot_read,
)
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = ["process_corpus_batch", "stream_corpus_ingest"]

QUERY_NAME = "corpus_ingest"


def process_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    accepted_table: str,
    stats_dir: str,
    bench_shingles: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    shingle_n: int = 5,
) -> None:
    """The foreachBatch body — re-callable: a replayed batch id is a
    no-op for the snapshot and a same-bytes rewrite for the stats."""
    from etl_weather_spark.functions.text import doc_fingerprint
    from etl_weather_spark.operators.dedup import exploded_shingles
    from etl_weather_spark.operators.textops import doc_profile

    marker = batch_marker(batch_id)
    if marker_version(accepted_table, marker) is not None:
        return
    spark = batch_df.sparkSession

    n_raw = batch_df.count()
    s1 = batch_df.filter(F.col("lang") == lang)
    good = (
        doc_profile(s1)
        .filter(F.col("quality") >= min_quality)
        .select("doc_id")
    )
    s2 = s1.join(good, "doc_id")

    fp = s2.select(
        "*", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    keep = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s3 = fp.join(keep, "doc_id")
    if current_version(accepted_table) is not None:
        idx = snapshot_read(spark, accepted_table).select("fingerprint").distinct()
        s3 = s3.join(idx, "fingerprint", "left_anti")

    tsh = exploded_shingles(s3, keep_cols=["doc_id"], n=shingle_n)
    contaminated = (
        tsh.join(F.broadcast(bench_shingles.select("sh").distinct()), "sh")
        .select("doc_id")
        .distinct()
    )
    s4 = s3.join(contaminated, "doc_id", "left_anti")

    accepted = s4.select(
        "doc_id", "text", "lang", "fingerprint", F.lit(batch_id).alias("batch_id")
    )
    n_accepted = accepted.count()
    # stats BEFORE the marker-carrying snapshot commit: a crash between
    # the two writes then replays past the marker check above, and the
    # replay must still find (or idempotently rewrite) the stats row —
    # writing stats after the commit would leave a permanent hole
    stats = spark.createDataFrame(
        [(batch_id, n_raw, n_accepted)],
        "batch_id long, n_raw long, n_accepted long",
    )
    write_batch(stats.coalesce(1), stats_dir, batch_id)
    snapshot_append(accepted, accepted_table, marker=marker)


def stream_corpus_ingest(
    docs_stream: DataFrame,
    *,
    accepted_table: str,
    stats_dir: str,
    checkpoint: str,
    bench_shingles: DataFrame,
):
    """Wire the batch body into a streaming query."""
    return start_batches(
        docs_stream,
        checkpoint,
        process_corpus_batch,
        name=QUERY_NAME,
        accepted_table=accepted_table,
        stats_dir=stats_dir,
        bench_shingles=bench_shingles,
    )
