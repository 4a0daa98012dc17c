"""Bloom-screen semantics: no false negatives, exactness under forced
false positives, and partial-bitmap build equivalence."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from etl_weather_spark.operators.bloom import (
    _positions,
    bloom_build,
    bloom_might_contain,
    bloom_screen,
    optimal_params,
)


def test_optimal_params_reasonable():
    m, k = optimal_params(1000)
    assert m % 64 == 0
    assert 9000 <= m <= 11000  # ~9.6 bits/key at 1% fp
    assert 6 <= k <= 8
    assert optimal_params(0) == (64, 1)


def test_no_false_negatives(spark):
    keys = [f"key-{i}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "fp string")
    m, k = optimal_params(500)
    bm = bloom_build(df, "fp", m_bits=m, k=k)
    got = (
        df.withColumn("hit", bloom_might_contain(df, F.col("fp"), bm, m_bits=m, k=k))
        .filter(~F.col("hit"))
        .count()
    )
    assert got == 0  # every built key must probe true


def test_definitely_absent_mostly_true_negatives(spark):
    idx = spark.createDataFrame([(f"in-{i}",) for i in range(500)], "fp string")
    probe = spark.createDataFrame([(f"out-{i}",) for i in range(500)], "fp string")
    m, k = optimal_params(500)
    bm = bloom_build(idx, "fp", m_bits=m, k=k)
    fp_hits = (
        probe.withColumn(
            "hit", bloom_might_contain(probe, F.col("fp"), bm, m_bits=m, k=k)
        )
        .filter(F.col("hit"))
        .count()
    )
    assert fp_hits <= 25  # ~1% target; generous 5% ceiling


def test_screen_exact_even_with_forced_false_positives(spark):
    """A pathologically small bitmap saturates (every probe collides) —
    the confirm join must still keep the output exactly anti-join."""
    idx_keys = {f"in-{i}" for i in range(50)}
    batch_keys = [f"in-{i}" for i in range(10)] + [f"new-{i}" for i in range(40)]
    idx = spark.createDataFrame([(v,) for v in sorted(idx_keys)], "fp string")
    batch = spark.createDataFrame(
        [(i, v) for i, v in enumerate(batch_keys)], "rid long, fp string"
    )

    # monkey-size: m=64 bits for 50 keys*4 probes → near-total saturation
    from etl_weather_spark.operators import bloom as B

    bm = B.bloom_build(idx, "fp", m_bits=64, k=4)
    popcount = int(np.unpackbits(bm.view(np.uint8)).sum())
    assert popcount >= 48  # bitmap genuinely saturated

    out = {r.fp: r.is_new for r in bloom_screen(idx, batch, key_col="fp").collect()}
    for v in batch_keys:
        assert out[v] == (v not in idx_keys)


def test_screen_matches_anti_join_and_skips_new_rows(spark):
    idx = spark.createDataFrame(
        [(f"doc text {i}",) for i in range(200)], "fp string"
    )
    batch = spark.createDataFrame(
        [(i, f"doc text {i % 250}") for i in range(250)], "rid long, fp string"
    )
    got = bloom_screen(idx, batch, key_col="fp")
    expected_new = {r.rid for r in batch.join(idx, "fp", "left_anti").collect()}
    rows = got.collect()
    assert len(rows) == 250
    assert {r.rid for r in rows if r.is_new} == expected_new


def test_partial_bitmap_build_equals_single_partition(spark):
    """OR of per-partition partials == bitmap built from one partition:
    the distributed build introduces no partitioning dependence."""
    vals = [(f"v{i}",) for i in range(300)]
    many = spark.createDataFrame(vals, "fp string").repartition(13)
    one = spark.createDataFrame(vals, "fp string").coalesce(1)
    m, k = optimal_params(300)
    assert np.array_equal(
        bloom_build(many, "fp", m_bits=m, k=k),
        bloom_build(one, "fp", m_bits=m, k=k),
    )


def test_positions_shape_and_range():
    import pandas as pd

    pos = _positions(pd.Series(["a", "b", "c"]), m_bits=128, k=5)
    assert pos.shape == (3, 5)
    assert pos.min() >= 0 and pos.max() < 128
    # deterministic across calls
    assert np.array_equal(pos, _positions(pd.Series(["a", "b", "c"]), 128, 5))
