"""Skew mitigation: salted join correctness; bucketed co-located joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.skew import salted_join
from etl_weather_spark.plans.explain import formatted_plan, shuffle_count
from etl_weather_spark.sources.lakehouse import write_bucketed


def test_salted_join_matches_plain_join(spark):
    # one hot key (90% of rows) + a long tail
    lrows = [(1, f"payload{i}") for i in range(900)] + [
        (k, f"p{k}") for k in range(2, 102)
    ]
    rrows = [(k, k * 10.0) for k in range(1, 102)]
    left = spark.createDataFrame(lrows, "key long, payload string")
    right = spark.createDataFrame(rrows, "key long, dim_val double")

    salted = salted_join(left, right, "key", n_salts=4)
    plain = left.join(right, "key")
    assert salted.count() == plain.count() == 1000
    s = {(r.key, r.payload, r.dim_val) for r in salted.collect()}
    p = {(r.key, r.payload, r.dim_val) for r in plain.collect()}
    assert s == p
    # the salt actually spreads the hot key across partitions
    n_parts = (
        left.withColumn(
            "__salt", F.pmod(F.xxhash64("payload"), F.lit(4))
        )
        .filter(F.col("key") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_parts > 1


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "no-match")], "key long, payload string"
    )
    right = spark.createDataFrame([(1, 1.0), (2, 2.0)], "key long, dim_val double")
    out = salted_join(left, right, "key", n_salts=3, how="left").collect()
    assert len(out) == 3
    assert {r.key: r.dim_val for r in out}[99] is None


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key at write time → sort-merge
    join with zero shuffles (the write-once/join-many pattern)."""
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).cast("double").alias("o_val")
    )
    items = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("i_key"), F.col("id").cast("double").alias("i_val")
    )
    write_bucketed(
        orders, "t_orders_b", str(tmp_path / "t_orders_b"),
        bucket_cols=["o_key"], sort_cols=["o_key"],
    )
    write_bucketed(
        items, "t_items_b", str(tmp_path / "t_items_b"),
        bucket_cols=["i_key"], sort_cols=["i_key"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(
            spark.table("t_items_b"),
            F.col("o_key") == F.col("i_key"),
        )
        assert joined.count() == 3000
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert shuffle_count(joined) == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")
