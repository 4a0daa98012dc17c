"""Tests for token-budget batch packing and cross-side LSH dedup."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_weather_spark.operators.batching import pack_token_batches
from etl_weather_spark.operators.dedup import minhash_lsh_cross_pairs


def _docs(spark, n=50):
    # doc i has i+1 tokens ("w w w ...") so batch sums are easy to reason about
    rows = [(i, " ".join(["w"] * (i % 9 + 1))) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tok(col):
    return F.size(F.split(F.trim(col), r"\s+"))


def test_pack_matches_single_window_prefix(spark):
    """Two-level prefix-sum == the naive global-window formulation."""
    docs = _docs(spark)
    got = {
        r.doc_id: (r.n_tok, r.batch_id)
        for r in pack_token_batches(
            docs, _tok(F.col("text")), budget=10, group_size=8
        ).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r.doc_id: (r.n_tok, r.batch_id)
        for r in docs.select(
            "doc_id",
            _tok(F.col("text")).cast("long").alias("n_tok"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 10.0)
            .cast("long")
            .alias("batch_id"),
        )
        .collect()
    }
    assert got == naive


def test_pack_batch_invariants(spark):
    docs = _docs(spark, 40)
    out = sorted(
        pack_token_batches(docs, _tok(F.col("text")), budget=12, group_size=7).collect(),
        key=lambda r: r.doc_id,
    )
    # batch ids are non-decreasing in pack order and start at 0
    bids = [r.batch_id for r in out]
    assert bids[0] == 0
    assert all(a <= b for a, b in zip(bids, bids[1:]))
    # every batch's token sum stays under budget + the max single doc
    # (a doc may straddle the boundary it opens)
    sums: dict[int, int] = {}
    for r in out:
        sums[r.batch_id] = sums.get(r.batch_id, 0) + r.n_tok
    max_doc = max(r.n_tok for r in out)
    assert all(s <= 12 + max_doc for s in sums.values())


def test_pack_oversized_doc_gets_own_batches(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, " ".join(["w"] * 25)), (3, "c d e")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.batch_id for r in pack_token_batches(docs, _tok(F.col("text")), budget=10).collect()}
    # doc 2 (25 tokens) pushes doc 3 well past batch 0
    assert out[1] == 0
    assert out[3] > out[2] or out[3] > 0


def test_cross_pairs_only_cross_side(spark):
    index = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different indexed content about spark engines"),
            (3, "shared duplicate text lives on both sides of the fence"),
            (4, "shared duplicate text lives on both sides of the fence"),  # intra-index dup
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
            (12, "brand new material no overlap with anything indexed"),
            (13, "shared duplicate text lives on both sides of the fence"),  # dup of 3 & 4
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.index_id, r.new_id)
        for r in minhash_lsh_cross_pairs(index, new, bands=8).collect()
    }
    # cross-side dups found
    assert (1, 11) in pairs
    assert (3, 13) in pairs and (4, 13) in pairs
    # intra-index pair (3,4) never emitted; orientation always (index, new)
    assert all(a in {1, 2, 3, 4} and b in {11, 12, 13} for a, b in pairs)
    assert (12, 12) not in pairs and (2, 12) not in pairs


def test_pack_property_random_parity(spark):
    """Property: for random token counts, budgets, and bucket sizes, the
    two-level prefix equals the naive global-window prefix exactly, and
    batch ids are a non-decreasing step function of the pack order.
    (A handful of deterministic random draws rather than per-example
    hypothesis: each check costs two Spark jobs.)"""
    import random

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(1, 120)
        budget = rng.randint(3, 40)
        group = rng.choice([1, 3, 8, 64])
        rows = [(i, rng.randint(0, 17)) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, n long")
        got = {
            r.doc_id: r.batch_id
            for r in pack_token_batches(
                df, F.col("n"), budget=budget, group_size=group
            ).collect()
        }
        prefix = 0
        want = {}
        for i, t in rows:  # rows are already in doc_id order
            want[i] = prefix // budget
            prefix += t
        assert got == want, (trial, n, budget, group)
        bids = [got[i] for i, _ in rows]
        assert all(a <= b for a, b in zip(bids, bids[1:]))
