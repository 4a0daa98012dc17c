"""Streaming trained-classifier scorer: batch==stream parity against
the batch scoring algebra, pinned-weights contract, drift alarm on a
keep-rate shift, degenerate batches visible, idempotent replays
(streaming/classifier_scorer)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.streaming.classifier_scorer import (
    batch_classifier_stats,
    pin_trained_weights,
    process_classifier_batch,
    score_docs_batch,
    stream_classifier_scorer,
)

# weights of the shape the trainer produces (keep ⇔ z > 0); chosen so
# diverse-vocabulary docs keep and repetitive spam drops (reward
# distinct-token ratio, punish top-token share)
W = {"wb": -1.0, "w1": 1.5, "w2": -1.0, "w3": 0.5, "w4": 0.5}

GOOD = (
    "the quick brown fox jumps over and rests in of green glade "
    + " ".join(f"word{j}" for j in range(50))
)
SPAM = " ".join(["buy"] * 40)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scorer_matches_batch_algebra(spark, sf_dir):
    """score_docs_batch with the PINNED trained weights reproduces the
    batch chain's own final scoring pass — one shared feature/logit
    implementation, weights pinned once (the IVF-centroid convention).
    """
    from etl_weather_spark import queries as q

    w = pin_trained_weights(spark, sf_dir)
    docs = q.load(spark, sf_dir, "documents")
    got = score_docs_batch(docs, w)
    n_keep_stream = got.filter(F.col("keep")).count()

    _chain, w_final = q._qct_chain(spark, sf_dir)
    train = q._qct_train_relation(spark, sf_dir)
    batch_scored = train.crossJoin(F.broadcast(w_final)).select(
        (q._qct_z() > 0).alias("keep")
    )
    n_keep_batch = batch_scored.filter(F.col("keep")).count()
    assert n_keep_stream == n_keep_batch


def test_pinned_weights_are_quantized_floats(spark, sf_dir):
    import math

    w = pin_trained_weights(spark, sf_dir)
    assert set(w) == {"wb", "w1", "w2", "w3", "w4"}
    for v in w.values():
        assert math.isfinite(v)
        assert abs(math.floor(v * 1e6 + 0.5) / 1e6 - v) < 1e-12


def test_missing_weight_key_refused(spark):
    with pytest.raises(ValueError, match="missing"):
        score_docs_batch(_docs(spark, [(1, "x y")]), {"wb": 0.0})


def test_tokenless_docs_visible_not_silent(spark):
    """NULL/empty text produces no feature row: n_scored < n_docs makes
    the drop visible and the missing docs count as not-keep."""
    batch = _docs(spark, [(1, GOOD), (2, None), (3, "")])
    row = batch_classifier_stats(batch, W).collect()[0]
    assert row.n_docs == 3
    assert row.n_scored == 1
    assert row.n_keep <= 1
    # rate denominates over ALL docs, not just scored ones
    assert row.keep_rate6 == round(row.n_keep / 3, 6)


def test_all_spam_batch_alarms(spark, tmp_path):
    batch = _docs(spark, [(i, SPAM) for i in range(10)])
    stats = str(tmp_path / "stats")
    process_classifier_batch(
        batch, 3, stats_dir=stats, weights=W, train_keep_rate=0.5, tol=0.2
    )
    r = spark.read.parquet(stats).collect()[0]
    assert r.batch_id == 3
    assert r.keep_rate6 == 0.0
    assert r.drifted is True


def test_stream_parity_and_drift_flag(spark, tmp_path):
    """Two micro-batches (good docs, spam docs): stream totals equal
    batch scoring of the union; only the spam batch drifts; a replay
    rewrites identical bytes."""
    src = tmp_path / "src"
    src.mkdir()
    good = [{"doc_id": i, "text": GOOD + f" uniq{i}"} for i in range(20)]
    spam = [{"doc_id": 100 + i, "text": SPAM} for i in range(20)]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in good))
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in spam))

    stats = str(tmp_path / "stats")
    feed = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    sq = stream_classifier_scorer(
        feed,
        stats_dir=stats,
        checkpoint_dir=str(tmp_path / "ckpt"),
        weights=W,
    )
    sq.awaitTermination(180)

    out = {r.batch_id: r for r in spark.read.parquet(stats).collect()}
    assert len(out) == 2
    # stream totals == batch scoring of the union (parity)
    union = _docs(
        spark,
        [(r["doc_id"], r["text"]) for r in good + spam],
    )
    want_keep = score_docs_batch(union, W).filter(F.col("keep")).count()
    assert sum(r.n_keep for r in out.values()) == want_keep
    flags = sorted((r.keep_rate6, r.drifted) for r in out.values())
    assert flags[0][1] is True  # the spam batch drifted
    assert flags[1][1] is False  # the good batch did not

    # replay idempotence
    before = {
        r.batch_id: (r.n_docs, r.n_scored, r.n_keep, r.keep_rate6, r.drifted)
        for r in spark.read.parquet(stats).collect()
    }
    spam_id = min(out, key=lambda b: out[b].keep_rate6)
    replay = spark.read.json(
        str(src / "b1.json"), schema="doc_id long, text string"
    )
    process_classifier_batch(
        replay, spam_id, stats_dir=stats, weights=W,
        train_keep_rate=0.9, tol=0.3,
    )
    after = {
        r.batch_id: (r.n_docs, r.n_scored, r.n_keep, r.keep_rate6, r.drifted)
        for r in spark.read.parquet(stats).collect()
    }
    assert after == before
