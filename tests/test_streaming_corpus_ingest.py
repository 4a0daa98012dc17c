"""Streaming corpus-ingest funnel: stream == batch equivalence,
cross-batch exact dedup against the standing index, decontamination,
replay idempotence (streaming/corpus_ingest)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.functions.text import doc_fingerprint
from etl_weather_spark.operators.dedup import exploded_shingles
from etl_weather_spark.operators.textops import doc_profile
from etl_weather_spark.sources.snapshots import snapshot_read
from etl_weather_spark.streaming.corpus_ingest import (
    process_corpus_batch,
    stream_corpus_ingest,
)

GOOD = (
    "the data and value of the table to scan in the row the fast part "
    "and the join of the batch to merge in the line the hash value of "
    "the key and the group to filter in the window the big stream"
)


def _rows(ids_texts_langs):
    return [(i, t, lg) for i, t, lg in ids_texts_langs]


@pytest.fixture()
def corpus(spark, tmp_path):
    # batch 0: two good docs, one exact dup (same text), one non-en,
    # one contaminated (shares the benchmark 5-gram run)
    bench_text = "alpha beta gamma delta epsilon zeta"
    b0 = _rows(
        [
            (0, GOOD, "en"),
            (1, GOOD + " extra tail words here", "en"),
            (2, GOOD, "en"),          # exact dup of 0 within the batch
            (3, GOOD, "zh"),          # language-gated
            (4, GOOD + " " + bench_text, "en"),  # contaminated
        ]
    )
    # batch 1: a cross-batch exact dup of doc 0 plus one new good doc
    b1 = _rows([(10, GOOD, "en"), (11, GOOD + " completely new suffix words", "en")])
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string, lang string"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    bench = spark.createDataFrame([(5, bench_text)], "doc_id long, text string")
    bench_sh = exploded_shingles(bench, keep_cols=[], n=5)
    return str(src), bench_sh


def test_stream_funnel_matches_batch_and_replays_safely(spark, tmp_path, corpus):
    src, bench_sh = corpus
    accepted = str(tmp_path / "accepted")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")

    feed = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream_corpus_ingest(
        feed,
        accepted_table=accepted,
        stats_dir=stats,
        checkpoint=ckpt,
        bench_shingles=bench_sh,
    )
    q.awaitTermination(180)

    out = snapshot_read(spark, accepted)
    got = {r.doc_id for r in out.collect()}
    # 0 keeps (min id of the dup group), 1 keeps, 2/10 exact dups,
    # 3 language, 4 contamination
    assert got == {0, 1, 11}

    # no two accepted docs share a fingerprint (cross-batch invariant)
    n_fp = out.select("fingerprint").distinct().count()
    assert n_fp == out.count()

    # stats rows recorded per batch
    st = {r.batch_id: r for r in spark.read.parquet(stats + "/*").collect()}
    assert st[0].n_raw == 5 and st[0].n_accepted == 2
    assert st[1].n_raw == 2 and st[1].n_accepted == 1

    # replaying an applied batch id is a no-op for the snapshot
    b0 = spark.read.parquet(src + "/b0")
    process_corpus_batch(
        b0, 0, accepted_table=accepted, stats_dir=stats, bench_shingles=bench_sh
    )
    assert {r.doc_id for r in snapshot_read(spark, accepted).collect()} == got

    # equivalence with the same funnel run as ONE batch over everything:
    # first-arrival == keep-min because the files were landed in id order
    all_docs = spark.read.parquet(src + "/*")
    s1 = all_docs.filter(F.col("lang") == "en")
    good = doc_profile(s1).filter(F.col("quality") >= 0.5).select("doc_id")
    s2 = s1.join(good, "doc_id")
    fp = s2.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    s3 = s2.join(keep.select("doc_id"), "doc_id")
    tsh = exploded_shingles(s3, keep_cols=["doc_id"], n=5)
    bad = tsh.join(F.broadcast(bench_sh.select("sh").distinct()), "sh").select("doc_id").distinct()
    batch_ids = {
        r.doc_id for r in s3.join(bad, "doc_id", "left_anti").collect()
    }
    assert batch_ids == got
