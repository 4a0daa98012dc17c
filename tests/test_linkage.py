"""Blocked fuzzy join semantics (operators/linkage.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.linkage import char_ngrams, fuzzy_join_blocked


def test_char_ngrams_padded(spark):
    row = (
        spark.createDataFrame([("ab",)], "s string")
        .select(char_ngrams(F.col("s")).alias("g"))
        .first()
    )
    # "##ab##" -> 4 padded trigrams; boundary grams carry the prefix
    assert row.g == ["##a", "#ab", "ab#", "b##"]


def test_finds_planted_typos_across_tables(spark):
    left = spark.createDataFrame(
        [("acme corp",), ("globex inc",), ("initech llc",)], "name string"
    )
    right = spark.createDataFrame(
        [("acme c0rp",), ("globex inc",), ("wayne ent",)], "name string"
    )
    got = {
        (r.name_a, r.name_b): r.edit_dist
        for r in fuzzy_join_blocked(
            left, right, left_col="name", right_col="name"
        ).collect()
    }
    assert got[("acme corp", "acme c0rp")] == 1
    assert got[("globex inc", "globex inc")] == 0
    assert all(b != "wayne ent" for _, b in got)


def test_matches_exact_all_pairs_on_random_typos(spark):
    # deterministic corpus: base words + 1-2 char mutations; the blocked
    # result must equal the exact quadratic answer (completeness at
    # q=3, d=2 for keys of length >= 5)
    base = ["september", "harvester", "blueprint", "telescope", "wildfire"]
    variants = [w[:i] + "x" + w[i + 1:] for w in base for i in (1, 4, 6)]
    names = [(w,) for w in base + variants]
    df = spark.createDataFrame(names, "name string")
    blocked = {
        (r.name_a, r.name_b)
        for r in fuzzy_join_blocked(
            df, df, left_col="name", right_col="name"
        ).filter(F.col("name_a") < F.col("name_b")).collect()
    }
    a = df.select(F.col("name").alias("x")).distinct()
    exact = {
        (r.x, r.y)
        for r in a.join(
            a.select(F.col("x").alias("y")), F.col("x") < F.col("y")
        )
        .filter(F.levenshtein("x", "y") <= 2)
        .collect()
    }
    assert blocked == exact and len(exact) > 10


def test_max_gram_freq_drops_stopword_grams(spark):
    # every name shares the hot suffix " inc"; capping gram frequency
    # removes those posting lists but keeps pairs that also share a
    # rare gram
    names = [(f"company{i} inc",) for i in range(10)] + [("company1 ink",)]
    df = spark.createDataFrame(names, "name string")
    capped = fuzzy_join_blocked(
        df, df, left_col="name", right_col="name", max_gram_freq=5
    ).filter(F.col("name_a") < F.col("name_b"))
    got = {(r.name_a, r.name_b) for r in capped.collect()}
    # "company1 inc" ~ "company1 ink" share the rare "ny1 " grams
    assert ("company1 inc", "company1 ink") in got
