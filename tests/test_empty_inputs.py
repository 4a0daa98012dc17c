"""Empty-input robustness: operators must yield empty results, not throw.

An engine meets empty partitions constantly at scale (a date filter
that matches nothing, a tenant with no rows); every operator family
must degrade to zero rows with the right schema.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    winnow_candidates,
)
from etl_weather_spark.operators.joins import asof_join_union, range_join_bucketed
from etl_weather_spark.operators.similarity import cosine_topk_bruteforce
from etl_weather_spark.operators.windows import trailing_mean
from etl_weather_spark.streaming.stateful import session_user_agg


def test_empty_docs_through_dedup_family(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert winnow_candidates(empty).count() == 0


def test_empty_sides_through_joins(spark):
    left = spark.createDataFrame([(1, 100)], "k long, t long")
    empty = spark.createDataFrame([], "k long, t long, rv double")
    out = asof_join_union(left, empty, on="t", by=["k"], value_cols=["rv"]).collect()
    # left rows survive with null carried values
    assert len(out) == 1 and out[0].rv_asof is None

    eleft = spark.createDataFrame([], "user_id long, lts timestamp")
    eright = spark.createDataFrame([], "user_id long, rts timestamp")
    assert (
        range_join_bucketed(
            eleft, eright, left_ts="lts", right_ts="rts"
        ).count()
        == 0
    )


def test_empty_through_windows_sessions_ann(spark):
    edaily = spark.createDataFrame([], "date date, total_rain double")
    assert trailing_mean(edaily, "total_rain", "ma7").count() == 0

    eev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    assert session_user_agg(eev).count() == 0

    evecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    qvecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert cosine_topk_bruteforce(evecs, qvecs, k=3).count() == 0


def test_filter_to_empty_through_daily_spine(spark, sf_dir):
    from etl_weather_spark import queries as q

    ev = q.load(spark, sf_dir, "events").filter(F.col("ts") > "2099-01-01")
    out = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert out.count() == 0


def test_empty_docs_through_round3_textops_and_pruned_pairs(spark):
    from etl_weather_spark.operators.dedup import pruned_jaccard_pairs
    from etl_weather_spark.operators.similarity import ivf_cells_seeded
    from etl_weather_spark.operators.textops import (
        shared_shingle_fraction,
        token_entropy_profile,
        vocab_coverage,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert token_entropy_profile(empty).count() == 0
    assert vocab_coverage(empty).count() == 0
    assert shared_shingle_fraction(empty).count() == 0
    assert pruned_jaccard_pairs(empty, min_jaccard=0.5).count() == 0

    evecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivf_cells_seeded(evecs).count() == 0


def test_empty_and_tiny_inputs_round5_wave2_ops(spark):
    """Round-5 wave-2 operators degrade cleanly: empty corpora yield
    empty results; k-means with fewer vectors than k just uses fewer
    seeds; single-token docs window into one short sentence."""
    from etl_weather_spark.operators.dedup import (
        global_sentence_dedup,
        strip_boilerplate_sentences,
    )
    from etl_weather_spark.operators.similarity import kmeans_lloyd_full
    from etl_weather_spark.operators.textops import ngram_repetition_profile

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_repetition_profile(empty).count() == 0
    assert global_sentence_dedup(empty).count() == 0
    esrc = spark.createDataFrame([], "doc_id long, source string, text string")
    assert strip_boilerplate_sentences(esrc).count() == 0

    evecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_lloyd_full(evecs, k=3, iters=2)[0].count() == 0

    # N < k: only N seeds exist; every vector still gets a cluster
    tiny = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = kmeans_lloyd_full(tiny, k=5, iters=2)[0].collect()
    assert sorted(r.vec_id for r in out) == [0, 1]
    assert {r.cluster for r in out} <= {0, 1}

    # one-token doc: a single short window, kept, rebuilt verbatim
    one = spark.createDataFrame([(7, "solo")], "doc_id long, text string")
    row = global_sentence_dedup(one).collect()[0]
    assert (row.n_sents, row.kept_sents, row.dedup_text) == (1, 1, "solo")


def test_empty_through_skew_profile_and_audio_fp(spark):
    from etl_weather_spark.operators.multimodal import (
        audio_envelope_fingerprint,
    )
    from etl_weather_spark.operators.skew import key_skew_profile

    empty = spark.createDataFrame([], "k long")
    row = key_skew_profile(empty, "k", "e").collect()
    # one profile row with zero keys and NULL statistics, never a throw
    assert len(row) == 1
    assert row[0]["n_keys"] == 0 and row[0]["n_rows"] is None

    no_media = spark.createDataFrame([], "media_id long, payload binary")
    assert audio_envelope_fingerprint(no_media).count() == 0
    # undecodable payloads are skipped, not fatal
    junk = spark.createDataFrame(
        [(1, bytearray(b"not a wav"))], "media_id long, payload binary"
    )
    assert audio_envelope_fingerprint(junk).count() == 0
