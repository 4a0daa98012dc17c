"""The steady-state incremental-dedup loop: a persisted MinHash
signature index (versioned snapshot table) screens each new ingestion
batch without re-hashing already-indexed documents."""

from __future__ import annotations

from etl_weather_spark.operators.dedup import (
    minhash_sig_table,
    screen_against_sig_index,
    verify_pairs_jaccard_inline,
)
from etl_weather_spark.sources.snapshots import snapshot_read, snapshot_write

CORPUS_V0 = [
    (1, "the quick brown fox jumps over the lazy dog every single day"),
    (2, "completely different indexed content describing spark engines at scale"),
    (3, "a third document with its own unique words and phrasing throughout"),
]
BATCH_1 = [
    (11, "the quick brown fox jumps over the lazy dog every single night"),  # near-dup of 1
    (12, "fresh material sharing nothing with the standing corpus index"),
]
BATCH_2 = [
    (21, "fresh material sharing nothing with the standing corpus index"),  # dup of 12 (now indexed)
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_index_loop(spark, tmp_path):
    t = str(tmp_path / "sig_index")
    docs0 = _df(spark, CORPUS_V0)

    # bootstrap: sign the corpus once, commit as the index table v0
    v0 = snapshot_write(minhash_sig_table(docs0, num_hashes=16), t)
    assert v0 == 0

    # batch 1 arrives: sign ONLY the batch, screen against stored sigs
    batch1 = _df(spark, BATCH_1)
    new_sigs = minhash_sig_table(batch1, num_hashes=16)
    cand = screen_against_sig_index(snapshot_read(spark, t), new_sigs, bands=8)
    pairs = {(r.index_id, r.new_id) for r in cand.collect()}
    assert (1, 11) in pairs          # near-dup caught against the index
    assert all(n in {11, 12} for _, n in pairs)

    # exact verify on the union (candidates -> dispose), as in production
    union_docs = docs0.unionByName(batch1)
    verified = verify_pairs_jaccard_inline(
        union_docs,
        cand.selectExpr("index_id AS id_a", "new_id AS id_b"),
    )
    assert {(r.id_a, r.id_b) for r in verified.collect()} == {(1, 11)}

    # commit batch 1's sigs: the index grows append-only, nothing re-signed
    v1 = snapshot_write(new_sigs, t, mode="append")
    assert {r.doc_id for r in snapshot_read(spark, t).collect()} == {1, 2, 3, 11, 12}

    # batch 2 dups a doc indexed in v1 -> caught by the grown index
    sigs2 = minhash_sig_table(_df(spark, BATCH_2), num_hashes=16)
    cand2 = {
        (r.index_id, r.new_id)
        for r in screen_against_sig_index(snapshot_read(spark, t), sigs2, bands=8).collect()
    }
    assert (12, 21) in cand2

    # time travel: the v0 index is still exactly the bootstrap corpus
    assert {r.doc_id for r in snapshot_read(spark, t, version=v1 - 1).collect()} == {1, 2, 3}


def test_sig_table_is_deterministic(spark):
    a = {(r.doc_id, tuple(r.sig)) for r in minhash_sig_table(_df(spark, CORPUS_V0)).collect()}
    b = {
        (r.doc_id, tuple(r.sig))
        for r in minhash_sig_table(_df(spark, CORPUS_V0).repartition(7)).collect()
    }
    assert a == b
