"""Streaming sentence-grain dedup: stream==batch parity + replay."""

from __future__ import annotations

import glob

from etl_weather_spark.operators.dedup import global_sentence_dedup
from etl_weather_spark.sources.snapshots import snapshot_history, snapshot_read
from etl_weather_spark.streaming.sentence_ingest import (
    process_sentence_batch,
    stream_sentence_dedup,
)

# 2-token sentence grain; duplicates planted within batch 0 and across
# the batch boundary
B0 = [
    (1, "a1 a2 b1 b2"),
    (2, "c1 c2 a1 a2"),  # "a1 a2" already in doc 1 -> removed
]
B1 = [
    (11, "b1 b2 d1 d2"),  # "b1 b2" seen in batch 0 -> removed
    (12, "a1 a2"),  # fully removed
]


def _write_batch(spark, src, rows, name):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/{name}")


def _run_stream(spark, src, idx, clean, ckpt):
    q = stream_sentence_dedup(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*"),
        index_table=idx,
        clean_dir=clean,
        checkpoint=ckpt,
    )
    q.awaitTermination(120)


def _cleaned(spark, clean):
    return {
        r.doc_id: (r.dedup_text, r.removed_sents)
        for d in glob.glob(clean + "/batch_id=*")
        for r in spark.read.parquet(d).collect()
    }


def test_stream_equals_batch_and_replay_is_noop(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "sent_index")
    clean = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, B0, "b0")
    _run_stream(spark, src, idx, clean, ckpt)
    got0 = _cleaned(spark, clean)
    assert got0[1] == ("a1 a2 b1 b2", 0)
    assert got0[2] == ("c1 c2", 1)

    _write_batch(spark, src, B1, "b1")
    _run_stream(spark, src, idx, clean, ckpt)
    got = _cleaned(spark, clean)
    assert got[11] == ("d1 d2", 1)
    assert got[12] == ("", 1)

    # stream == batch: the union of per-batch cleaned docs is
    # byte-identical to the batch operator over the whole corpus
    # (batches arrived in doc_id order, so keeper rules coincide)
    all_docs = spark.createDataFrame(B0 + B1, "doc_id long, text string")
    want = {
        r.doc_id: (r.dedup_text, r.removed_sents)
        for r in global_sentence_dedup(all_docs, sent_tokens=2).collect()
    }
    assert got == want

    # the index holds one row per distinct surviving sentence hash
    n_hashes = snapshot_read(spark, idx).count()
    assert n_hashes == 4  # a1a2, b1b2, c1c2, d1d2

    # replaying an already-committed batch id is a no-op
    hist_before = len(snapshot_history(idx))
    process_sentence_batch(
        spark.createDataFrame(B0, "doc_id long, text string"),
        0,
        index_table=idx,
        clean_dir=clean,
        sent_tokens=2,
    )
    assert len(snapshot_history(idx)) == hist_before
    assert snapshot_read(spark, idx).count() == n_hashes
    assert _cleaned(spark, clean) == want
