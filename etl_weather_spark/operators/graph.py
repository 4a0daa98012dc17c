"""Iterative graph algorithms over pair/edge DataFrames.

Beyond connected components (operators/dedup.py), dedup pipelines want a
*centrality* signal: inside a near-duplicate cluster, which document is
the canonical representative? Degree-weighted PageRank over the dup-pair
graph answers that — a hub shared by many near-dups outranks a leaf that
matched once.

Reference parity: the reference has no graph operators; this is part of
the beyond-reference training-data-pipeline surface (brief: dedup at
100 TB needs pair → cluster → canonical-pick, not just pair lists).

Design notes (100 TB):
- Pregel-style: each iteration is one keyed join (ranks ⋈ edges on src)
  plus one aggregation (sum contributions by dst) — two shuffles per
  round on narrow (id, long) rows. Rounds are fixed (default 3), so the
  total cost is O(iterations × |E|) shuffled bytes, never iterate-to-
  convergence unbounded.
- Edges carry their out-degree from a single pre-pass, so the per-round
  join is binary (ranks ⋈ edges_with_deg), not ternary.
- Lineage is truncated by fencing the ranks every ``FENCE_EVERY``
  rounds (:mod:`~etl_weather_spark.operators.fence`) — for the default
  3 rounds the plan stays lazy end-to-end.

Integer-exact arithmetic: ranks are scaled BIGINTs (scale 1e9)
and every operation is integer multiply / integer (truncating) division
/ integer sum. Two engines executing the same integer ops on the same
edges produce bit-identical ranks — this is what lets the DuckDB oracle
hash-match the distributed computation exactly (same discipline as
functions/rounding.dsum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.fence import FENCE_EVERY, fence

__all__ = ["pagerank_scaled"]


def pagerank_scaled(pairs: DataFrame, *, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank over the undirected (id_a, id_b) pair
    graph: (node, rank_scaled).

    Uses the unnormalized per-node form (uniform init scale = 1e9, i.e.
    rank 1.0 per node, damping d = 85%):

        contrib(v) = Σ_{u→v}  r(u) div outdeg(u)          -- integer div
        r'(v)      = (scale·(100−d)) div 100  +  (d·contrib(v)) div 100

    Every pair contributes both directions, so every node has in-degree
    ≥ 1 and no rank mass is lost to sources.

    All arithmetic is 64-bit-integer exact for ``scale·d·N`` within
    int64 (N ≤ ~1e8 nodes; beyond that, switch the sum to decimal(38,0)
    — the contrib sum is the only place that grows with N).
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # the edge relation is consumed by deg + every round: without a
    # fence the final plan re-derives the (possibly expensive) pair
    # subtree once per consumer
    edges = fence(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one binary relation reused every round: (src, dst, outdeg)
    edges_deg = edges.join(deg, "src")

    scale = 1_000_000_000
    base = (scale * (100 - 85)) // 100
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(scale).cast("long").alias("r")
    )
    for i in range(iterations):
        contrib = (
            edges_deg.alias("e")
            .join(ranks.alias("rk"), F.col("e.src") == F.col("rk.node"))
            .select(F.col("e.dst").alias("dst"), F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit(base)
                + F.expr("(85 * contrib) div 100")
            ).cast("long").alias("r"),
        )
        if (i + 1) % FENCE_EVERY == 0 and i + 1 < iterations:
            ranks = fence(ranks)
    return ranks.select("node", F.col("r").alias("rank_scaled"))
