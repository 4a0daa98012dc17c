"""Streaming incremental dedup over the persisted signature index."""

from __future__ import annotations

import glob
import pathlib
import re

from etl_weather_spark.sources.snapshots import snapshot_history, snapshot_read
from etl_weather_spark.streaming.incremental_dedup import (
    process_doc_batch,
    stream_incremental_dedup,
)

B0 = [
    (1, "the quick brown fox jumps over the lazy dog every single day"),
    (2, "completely different indexed content describing spark engines at scale"),
]
B1 = [
    (11, "the quick brown fox jumps over the lazy dog every single night"),  # near-dup of 1
    (12, "fresh material sharing nothing with the standing corpus index"),
]


def _write_batch(spark, src, rows, name):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/{name}")


def test_stream_screens_and_grows_index(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "sig_index")
    flags = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, B0, "b0")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream_incremental_dedup(
        stream, index_table=idx, flags_dir=flags, checkpoint=ckpt
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in snapshot_read(spark, idx).collect()} == {1, 2}

    # batch 2 arrives; a fresh availableNow run picks up only the new file
    _write_batch(spark, src, B1, "b1")
    q2 = stream_incremental_dedup(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*"),
        index_table=idx,
        flags_dir=flags,
        checkpoint=ckpt,
    )
    q2.awaitTermination(120)

    assert {r.doc_id for r in snapshot_read(spark, idx).collect()} == {1, 2, 11, 12}
    flagged = {
        (r.index_id, r.new_id)
        for r in spark.read.parquet(*glob.glob(flags + "/batch_id=*")).collect()
    }
    assert (1, 11) in flagged
    assert all(i in {1, 2} and n in {11, 12} for i, n in flagged)


def test_batch_replay_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "sig_index")
    flags = str(tmp_path / "flags")
    b0 = spark.createDataFrame(B0, "doc_id long, text string")
    b1 = spark.createDataFrame(B1, "doc_id long, text string")
    process_doc_batch(b0, 0, index_table=idx, flags_dir=flags)
    process_doc_batch(b1, 1, index_table=idx, flags_dir=flags)
    versions_before = len(snapshot_history(idx))
    rows_before = snapshot_read(spark, idx).count()

    # failure replay of batch 1: index unchanged, flags identical
    process_doc_batch(b1, 1, index_table=idx, flags_dir=flags)
    assert len(snapshot_history(idx)) == versions_before
    assert snapshot_read(spark, idx).count() == rows_before
    flagged = {
        (r.index_id, r.new_id)
        for r in spark.read.parquet(flags + "/batch_id=1").collect()
    }
    assert (1, 11) in flagged


def test_micro_batch_protocol_is_spelled_once():
    """Every streaming surface starts, recognises a replay and writes its
    per-batch output the same way, so each spelling has one home: the
    foreachBatch start and the ``batch_id=N`` output in
    ``streaming/_state.py``, the replay marker and its ``committed_at``
    lookup in ``sources/snapshots.py``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl_weather_spark"
    homes = {
        r"\.foreachBatch\(": "streaming/_state.py",
        r"[\"']committed_at[\"']": "sources/snapshots.py",
        r"[\"']batch-\{": "sources/snapshots.py",
        r"batch_id=\{": "streaming/_state.py",
    }
    strays = {pattern: [] for pattern in homes}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for pattern, home in homes.items():
                if rel != home and re.search(pattern, line):
                    strays[pattern].append(f"{rel}:{n}")
    assert strays == {pattern: [] for pattern in homes}
