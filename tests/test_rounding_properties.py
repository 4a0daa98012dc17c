"""Property tests for the cross-engine determinism layer.

The whole oracle gate rests on two invariants of functions/rounding.py;
hypothesis hammers them directly (pure Python — the same IEEE-754 ops
Spark and DuckDB execute):

1. item rounding: for a double that is the nearest representation of a
   k/10^s fixed-point value, floor(x*10^s + 0.5) recovers k exactly —
   so dsum's scaled-long accumulation and a DECIMAL(,s) cast agree.
2. sum exactness: the scaled-long sum over any ordering equals the
   Decimal ground truth — accumulation order can never flip a hash.
"""

from __future__ import annotations

import math
import random
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_weather_spark.functions.rounding import davg, dsum, spark_davg, spark_dsum


@given(
    k=st.integers(min_value=-(10**13), max_value=10**13),
    scale_pow=st.sampled_from([2, 4, 6]),
)
@settings(max_examples=500)
def test_scaled_floor_recovers_fixed_point(k: int, scale_pow: int):
    s = 10**scale_pow
    x = k / s  # the double nearest to the fixed-point rational
    assert math.floor(x * s + 0.5) == k


@given(
    ks=st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=200),
    scale_pow=st.sampled_from([2, 6]),
)
@settings(max_examples=200)
def test_scaled_long_sum_is_order_independent_and_exact(ks: list[int], scale_pow: int):
    s = 10**scale_pow
    xs = [k / s for k in ks]
    ground_truth = sum(Decimal(k) for k in ks)  # exact integer arithmetic

    def scaled_sum(vals):
        return sum(math.floor(v * s + 0.5) for v in vals)

    assert scaled_sum(xs) == ground_truth
    shuffled = xs[:]
    random.Random(0).shuffle(shuffled)
    assert scaled_sum(shuffled) == ground_truth


@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False))
@settings(max_examples=500)
def test_rnd_form_is_pure_ieee(x: float):
    # floor(x*100+0.5)/100 must be reproducible from the double alone —
    # re-evaluating is bit-identical (no hidden state, unlike banker's
    # rounding on shortest-repr which depends on the decimal formatter)
    a = math.floor(x * 100 + 0.5) / 100
    b = math.floor(x * 100 + 0.5) / 100
    assert a == b and not math.isnan(a)


def test_spark_text_sum_matches_column_form_bitwise(spark):
    """``spark_dsum``/``spark_davg`` (the SQL text the served builders
    use) give the same bits as ``dsum``/``davg``, grouped and windowed,
    on random 2-dp values with negatives and x.xx5 item boundaries."""
    rng = random.Random(7)
    vals = [rng.randint(-10**6, 10**6) / 100 for _ in range(600)]
    vals += [k / 1000 for k in (5, -5, 15, -15, 1005, -1005, 2675, -2675, 99995)]
    rows = [(i % 7, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g int, i int, x double")
    got = df.groupBy("g").agg(
        dsum("x").alias("s"), davg("x").alias("a"),
        F.expr(f"{spark_dsum('x', '')} AS ts"), F.expr(f"{spark_davg('x', '')} AS ta"),
    ).collect()
    assert len(got) == 7
    for r in got:
        assert (r.ts.hex(), r.ta.hex()) == (r.s.hex(), r.a.hex()), r

    # windowed: the same scaled-integer sum, computed in Python
    over = "OVER (PARTITION BY g ORDER BY i ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    win = df.selectExpr("g", "i", f"{spark_dsum('x', over)} AS ts", f"{spark_davg('x', over)} AS ta")
    by_group: dict[int, list[float]] = {}
    for g, _, v in rows:
        by_group.setdefault(g, []).append(v)
    for r in win.collect():
        j = r.i // 7  # row i is the (i // 7)-th of group i % 7
        frame = by_group[r.g][max(0, j - 2): j + 1]
        total = float(sum(math.floor(v * 100 + 0.5) for v in frame)) / 100
        assert (r.ts.hex(), r.ta.hex()) == (total.hex(), (total / len(frame)).hex()), r
