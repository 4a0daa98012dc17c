"""Skew mitigation: salted joins and bucketed co-located joins.

At 100 TB a handful of hot keys (one viral document, one mega-customer)
can put 100× the median load on single shuffle partitions. Two
mitigations beyond AQE's automatic skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``, on by default in
session.get_spark):

- :func:`salted_join` — explicit salting for when the skewed side is a
  FACT joined against a medium dimension that is too big to broadcast:
  the fact key gains a deterministic salt in [0, n_salts), the dim side
  replicates n_salts×, and the join key becomes (key, salt) — hot keys
  spread over n_salts partitions at the cost of replicating the dim.
- bucketed tables (``sources/lakehouse.write_bucketed``) — co-locate
  both sides of a recurring join at WRITE time; reads then sort-merge
  join with zero exchanges (asserted in tests/test_skew_bucketed.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left (skewed/fact) side salted.

    The salt must be DETERMINISTIC per row (a hash of all the left
    side's non-key columns), never ``rand()`` — task retries and
    speculative execution re-evaluate the expression, and a retried task
    that re-rolls its salt would route rows to a different partition
    than the shuffle files already written.

    Row-multiplicity semantics match a plain join for 'inner' and
    'left': each left row joins the single replicated copy of the right
    side that carries its salt.
    """
    entropy_cols = [c for c in left.columns if c != on]
    salt: Column = F.pmod(F.xxhash64(*[F.col(c) for c in entropy_cols]), F.lit(n_salts))
    lt = left.withColumn("__salt", salt)
    rt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return lt.join(rt, on=[on, "__salt"], how=how).drop("__salt")


def key_skew_profile(df: DataFrame, key_col: str, rel_key: str) -> DataFrame:
    """One-row key-multiplicity profile of ``df[key_col]`` — the
    measurement that DECIDES between the mitigations above before the
    shuffle runs: row/key counts, max & exact-p99 multiplicity, the
    hottest key (ties broken to the smallest), its row share, the
    max/avg skew factor, and ``salting_recommended`` (max > 4× avg).

    Scale: ONE keyed partial agg (the same shuffle the audited job
    would run, collapsed map-side to (key, count)); the multiplicity
    histogram, its cumulative p99 scan, and the argmax are all bounded
    by the DISTINCT-MULTIPLICITY cardinality — O(√rows) in the
    heavy-tailed worst case (multiplicities 1..m sum to m²/2 rows),
    dimension-grain in practice — always far below row grain, so the
    single-partition cumulative window never sees row-grain data. If a
    hard bound is ever required, bucket multiplicities into log₂ bands
    before the cumulative scan (p99 then lands on a band boundary).

    p99 definition (exact, engine-portable integer arithmetic): the
    smallest multiplicity m with |{keys: mult ≤ m}| · 100 ≥ 99 · n_keys.
    """
    from pyspark.sql import Window

    from etl_weather_spark.functions.rounding import rnd

    m = (
        df.select(
            F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = m.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_mult"),
    )
    hot = (
        m.crossJoin(F.broadcast(s))
        .filter(F.col("c") == F.col("max_mult"))
        .agg(F.min("k").alias("hot_key"))
    )
    h = m.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("nk"))
    cum = h.select(
        "c",
        F.sum("nk")
        .over(
            Window.orderBy("c").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum_keys"),
    )
    p99 = (
        cum.crossJoin(F.broadcast(s))
        .filter(F.col("cum_keys") * 100 >= F.col("n_keys") * 99)
        .agg(F.min("c").cast("long").alias("p99_mult"))
    )
    return (
        s.crossJoin(F.broadcast(hot))
        .crossJoin(F.broadcast(p99))
        .select(
            F.lit(rel_key).alias("rel_key"),
            "n_rows",
            "n_keys",
            "max_mult",
            rnd(F.col("n_rows") * 1.0 / F.col("n_keys"), 6).alias("avg_mult6"),
            rnd(
                F.col("max_mult") * 1.0 * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew6"),
            "hot_key",
            rnd(F.col("max_mult") * 1.0 / F.col("n_rows"), 6).alias(
                "hot_share6"
            ),
            "p99_mult",
            (
                F.col("max_mult") * F.col("n_keys") > F.lit(4) * F.col("n_rows")
            ).alias("salting_recommended"),
        )
    )
