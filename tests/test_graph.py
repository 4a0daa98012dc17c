"""operators/graph.pagerank_scaled semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.graph import pagerank_scaled

SCALE = 1_000_000_000


def _ranks(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    return {
        r["node"]: r["rank_scaled"]
        for r in pagerank_scaled(df, **kw).collect()
    }


def test_star_hub_outranks_leaves(spark):
    # 1 is near-duplicated by 2, 3, 4 — the canonical hub
    r = _ranks(spark, [(1, 2), (1, 3), (1, 4)])
    assert set(r) == {1, 2, 3, 4}
    assert r[1] > r[2] == r[3] == r[4]
    assert r[2] < SCALE < r[1]


def test_mutual_pair_is_fixpoint(spark):
    # a symmetric 2-clique keeps uniform rank: 0.15 + 0.85*1.0 = 1.0
    r = _ranks(spark, [(10, 20)])
    assert r == {10: SCALE, 20: SCALE}


def test_deterministic_across_runs_and_partitioning(spark):
    pairs = [(i, i + 1) for i in range(1, 30)] + [(1, k) for k in range(40, 60)]
    df4 = spark.createDataFrame(pairs, ["id_a", "id_b"]).repartition(4)
    df1 = spark.createDataFrame(list(reversed(pairs)), ["id_a", "id_b"]).coalesce(1)
    a = {r["node"]: r["rank_scaled"] for r in pagerank_scaled(df4).collect()}
    b = {r["node"]: r["rank_scaled"] for r in pagerank_scaled(df1).collect()}
    assert a == b  # integer arithmetic: partitioning/order cannot flip a bit


def test_more_iterations_spread_chain_ranks(spark, count_fences):
    from etl_weather_spark.operators import graph

    fences = count_fences(graph)
    # on a path graph the center accumulates rank over rounds
    chain = [(i, i + 1) for i in range(1, 8)]
    r1 = _ranks(spark, chain, iterations=1)
    assert len(fences) == 1  # the edge fence only
    r5 = _ranks(spark, chain, iterations=5)
    assert len(fences) == 3  # the edge fence + the round-4 rank fence
    center, leaf = 4, 1
    assert r5[center] > r5[leaf]
    assert r5[center] >= r1[center]  # center keeps gaining from both sides


def test_matches_reference_python_implementation(spark):
    # brute-force the same integer recurrence in plain Python
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)]
    edges = pairs + [(b, a) for a, b in pairs]
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: SCALE for n in outdeg}
    for _ in range(3):
        contrib: dict[int, int] = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + r[s] // outdeg[s]
        r = {n: 150_000_000 + (85 * c) // 100 for n, c in contrib.items()}
    assert _ranks(spark, pairs) == r
