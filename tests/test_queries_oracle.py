"""Driver-style correctness gate, run locally at sf0.001.

Mirrors what the driver does at sf0.01: run each registered Spark query
AND its DuckDB oracle SQL on the same parquet tables, compare row count,
column names, and an order-insensitive value multiset.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_weather_spark import queries as q
from etl_weather_spark.plans.explain import formatted_plan

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _multiset(rows, columns):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_norm(r[i]) for i in idx) for r in rows)


#: exactly the queries whose plans (or the plans of the frames they
#: fence) hold ArrowEvalPython / MapInPandas stages
ARROW_OK = {
    # pandas/Arrow kernels by design
    "winnow_candidates", "heavy_hitter_users", "media_payload_stats",
    "udtf_melt_events", "word_freq", "ann_cosine_lsh", "ann_cosine_ivf",
    # round-2 wave 2/3: Bloom probe, PQ encode/ADC, CMS probe are
    # Arrow kernels
    "bloom_screen_new_docs", "ann_cosine_pq", "cms_user_freq",
    # round-4: real stdlib PNG/WAV codec runs inside mapInPandas by
    # design (decode is per-row CPU, Arrow-batched); png_meta_probe
    # SYNTHESIZES payloads in pandas but the probe itself is pure
    # Catalyst (asserted in test_binary_files.py's plan check)
    "media_pixel_stats", "media_wav_stats", "png_meta_probe",
    "media_resize_stats", "media_decimate_stats", "image_dhash_dedup",
    # round-5: fractional-ratio conform stages (same codec path);
    # rank-based BPE encode (vocab-bound Arrow pass by design); the
    # tokenizer cost report fences its encode, and the token-mixture
    # plan fences the cost report
    "media_area_resize_stats", "media_resample_stats",
    "bpe_ranked_encode_stats", "tokenizer_cost_report", "token_mixture_plan",
    # persisted-PQ serving (ADC scan is an Arrow kernel by design)
    "ann_pq_index_roundtrip",
    # round-6: real baseline-JPEG decode runs inside mapInPandas by
    # design (same per-row-CPU codec path as the PNG/WAV rows)
    "media_jpeg_stats",
    # round-7: WAV decode + envelope fingerprint is the same
    # Arrow-batched codec path
    "audio_envelope_dedup",
    # round-10 (optimization): exact-fold numpy cosine kernels over
    # a driver-pinned bounded reference set (bit-identical to the
    # interpreted Catalyst array folds they replace); the release
    # reports and the method-agreement cross-tab embed the
    # semantic_decontaminate leg
    "embedding_outlier_knn", "knn_label_spread",
    "semantic_decontaminate", "decontamination_method_agreement",
    "corpus_release_report", "corpus_release_report_v2",
    "ann_ivf_recall_audit", "matryoshka_truncation_audit",
    "ann_cosine_topk", "hybrid_search_rrf",
    "embedding_near_dupes", "semantic_dedup",
    # round-11 (optimization): portable-SimHash votes kernel — one
    # ArrowEvalPython projection over the Catalyst token array,
    # bit-parity with the 64-sum aggregate form pinned in
    # tests/test_kernel_parity.py
    "simhash_sigs", "simhash_near_dupes",
}

ORACLES = q.oracle_sql()
NAMES = sorted(q.queries())


@pytest.fixture
def fenced_plans(monkeypatch):
    """Formatted plans of the frames fenced while a query is built: a
    fence shows in the query's own plan as an ``ExistingRDD`` leaf, so
    whatever runs below it is only visible here. ``operators.fence`` is
    the only caller of ``localCheckpoint``
    (``test_dedup.test_materialization_is_spelled_once``)."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    real = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(formatted_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, duck, fenced_plans, name):
    """Rows equal the DuckDB oracle's, no cache entry is left behind,
    and the plan — with the plans of the frames fenced while building
    it — holds the registry-wide invariants:

    - no BatchEvalPython anywhere (row-at-a-time Python UDFs are the
      canonical 100 TB anti-pattern; all Python here must be
      Arrow-batched);
    - no CartesianProduct (a true cartesian of two multi-row relations
      is always a bug at scale; 1-row scalar joins plan as broadcast
      nested loop, which is allowed);
    - ArrowEvalPython / mapInPandas stages exactly in the known
      kernel-backed pipelines (``ARROW_OK``).
    """
    fn = q.queries()[name]
    try:
        sdf = fn(spark, sf_dir)
        plans = [formatted_plan(sdf), *fenced_plans]
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    finally:
        # no query may leave a CacheManager entry behind; clearing here
        # keeps a leak from failing the queries that run after it
        pinned = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
        spark.catalog.clearCache()
    assert not pinned, f"{name}: left a CacheManager entry after the query"
    for plan in plans:
        assert "BatchEvalPython" not in plan, f"{name}: BatchEvalPython"
        assert "CartesianProduct" not in plan, f"{name}: CartesianProduct"
    arrow = any("ArrowEvalPython" in p or "MapInPandas" in p for p in plans)
    if arrow:
        assert name in ARROW_OK, f"{name}: unexpected Arrow/pandas stage"
    else:
        assert name not in ARROW_OK, f"{name}: listed in ARROW_OK, no Arrow/pandas stage"

    assert name in ORACLES
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ms_s = _multiset(spark_rows, spark_cols)
    ms_d = _multiset(duck_rows, duck_cols)
    if ms_s != ms_d:
        diff = [(a, b) for a, b in zip(ms_s, ms_d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_funnel_v3_refits_diverge_from_v2_exactly_at_fitted_gates(spark, sf_dir):
    """v3 re-fits each gate's statistics on the prior stage's
    survivors. Per-document gates (stages 1-4: lang-ID, code routing,
    Gopher rules, fixed-weight logistic) must decide identically to
    v2; the fitted gates (stage 5 MAD, 6 perplexity terciles, 7 DSIR)
    must diverge — the refit moving boundaries is the whole point of
    the CCNet/RefinedWeb parameterization."""
    from etl_weather_spark import queries as q

    v2 = {r.stage: (r.n_kept, r.id_checksum)
          for r in q.corpus_prep_funnel_v2(spark, sf_dir).collect()}
    v3 = {r.stage: (r.n_kept, r.id_checksum)
          for r in q.corpus_prep_funnel_v3(spark, sf_dir).collect()}
    assert set(v2) == set(v3) == set(range(8))
    for s in range(5):  # all_docs + the four per-doc gates
        assert v2[s] == v3[s], f"per-doc stage {s} must not move"
    assert any(v2[s] != v3[s] for s in (5, 6, 7)), (
        "refitting must move at least one fitted-gate boundary"
    )


def test_lsh_recall_core_zero_exact_pairs_yields_null_recall(spark):
    """Round-7 review repro: a corpus where banding produces a
    candidate but NO pair reaches exact Jaccard >= 0.5 (reachable in
    the 25% sampled audit, where true pairs decimate quadratically).
    recall4 must be NULL — not a Spark NaN (or ANSI divide-by-zero)
    diverging from DuckDB's 0/0 -> NULL."""
    import math

    from etl_weather_spark import queries as q

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango")
    mod = ("alpha bravo charlie delta echo foxtrot golf hotel india "
           "juliet kilo lima mike z0w0 z0w1 z0w2 z0w3 z0w4 z0w5 z0w6")
    df = spark.createDataFrame(
        [(1, base), (2, mod)], "doc_id long, text string"
    )
    rows = q._lsh_recall_core(df).collect()
    assert rows, "the pinned pair must band-collide"
    for r in rows:
        assert r.n_exact_total == 0
        assert r.recall4 is None or not math.isnan(r.recall4)
        assert r.recall4 is None  # NULL, matching DuckDB 0/0


def test_funnel_gate_table_is_single_source(spark):
    """Round-7 review: the gate chain lives in ONE table read by every
    funnel-family oracle; each one must list the table's stages or
    gates in table order — v2 and v3 verbatim, v4 with the trained
    classifier in the quality_keep slot, the attribution and bias
    audits as gate names — and the incremental funnel must report the
    streaming trained funnel's stages over the table's per-doc gates."""
    import re

    from etl_weather_spark import queries as q
    from etl_weather_spark.streaming.trained_funnel import STAGES

    names = [n for n, *_ in q._FUNNEL_GATES]

    def stages(key: str) -> list[str]:
        return re.findall(r"'(\w+)' AS stage_name", q._ORACLES[key])

    def gates(key: str) -> list[str]:
        return re.findall(r"'(\w+)' AS gate_name", q._ORACLES[key])

    for key in ("corpus_prep_funnel_v2", "corpus_prep_funnel_v3"):
        assert stages(key) == ["all_docs"] + names
    trained = [
        "quality_trained_keep" if n == "quality_keep" else n for n in names
    ]
    assert stages("corpus_prep_funnel_v4") == ["all_docs"] + trained
    for key in ("gate_attribution_audit", "gate_bias_audit"):
        assert gates(key) == names
    assert stages("corpus_prep_funnel_incremental") == list(STAGES)
    per_doc = [n for n, *_ in q._PER_DOC_GATES]
    assert per_doc and per_doc == [s for s in STAGES if s in names]


def test_funnel_gate_keep_sets_unique_per_doc(spark, sf_dir):
    """ADVICE r10 #3: the flags funnels LEFT-join gate keep-sets onto
    the doc spine, so a duplicate doc_id in any keep-set would silently
    multiply spine rows. Rather than paying a dropDuplicates exchange
    per gate at runtime (A/B'd slower, round 11), pin the invariant the
    joins rely on: every registered gate emits exactly one row per
    doc_id (each ends in a per-doc aggregate or per-row projection)."""
    from etl_weather_spark import queries as q
    from etl_weather_spark.queries._registry import _QUERIES

    from pyspark.sql import functions as F

    for name, key, cond, _core in q._FUNNEL_GATES:
        keep = _QUERIES[key](spark, sf_dir).filter(F.expr(cond)).select("doc_id")
        n = keep.count()
        nd = keep.distinct().count()
        assert n == nd, f"gate {name} ({key}) emits duplicate doc_ids"
