"""Round-8 semantics: 63-bit audio envelope fingerprints, the
hot-bucket star-edge cap in audio_envelope_pairs, short-clip
visibility, and the distributed-trained quality classifier."""

from __future__ import annotations

import numpy as np
import pytest

import etl_weather_spark.queries as q
from etl_weather_spark.operators.multimodal import (
    audio_envelope_fingerprint,
    audio_envelope_pairs,
    encode_wav,
)

# ---------------------------------------------------------------------------
# audio_envelope_fingerprint — widened key space (VERDICT r7 "What's
# wrong" #1: the 16-band default was a 15-bit key space, a
# birthday-collision quadratic at corpus scale)
# ---------------------------------------------------------------------------


def test_audio_envelope_default_is_63_bit(spark):
    """The default band count yields fingerprints that actually use the
    widened key space (>15 bits on the standard fixture signal)."""
    i = np.arange(256, dtype=np.int64)
    amp = 1 + ((i // 16) * 5) % 12
    base = amp * (2 * (((i * 17) % 128) - 64))
    df = spark.createDataFrame(
        [(1, encode_wav(base.reshape(256, 1), 8000))],
        "media_id long, payload binary",
    )
    fp = audio_envelope_fingerprint(df).collect()[0]["fp"]
    assert fp is not None and fp.bit_length() > 15
    # and still invariant to exact halving at the new default
    df2 = spark.createDataFrame(
        [(2, encode_wav((base // 2).reshape(256, 1), 16000))],
        "media_id long, payload binary",
    )
    assert audio_envelope_fingerprint(df2).collect()[0]["fp"] == fp


def test_envelope_bits_match_per_band_loop():
    """The vectorized delta-sign packing of ``_envelope`` equals the
    per-band loop: bit k set iff band k+1 holds more |PCM| energy than
    band k, tail frames that do not fill a band dropped."""
    from etl_weather_spark.operators.multimodal import _envelope

    rng = np.random.RandomState(3)
    for n_bands in (2, 16, 64):
        for n in (n_bands, 3 * n_bands + 5, 1000):
            s = rng.randint(-32768, 32768, size=(n, 2)).astype(np.int32)
            mono = np.abs(s.astype(np.int64)).sum(axis=1)
            bl = n // n_bands
            e = [int(mono[k * bl : (k + 1) * bl].sum()) for k in range(n_bands)]
            fp = 0
            for k in range(n_bands - 1):
                if e[k + 1] > e[k]:
                    fp |= 1 << k
            assert _envelope(s, 8000, n_bands) == (n, 8000, fp)


def test_audio_envelope_nbands_guard(spark):
    df = spark.createDataFrame([], "media_id long, payload binary")
    with pytest.raises(ValueError, match="n_bands"):
        audio_envelope_fingerprint(df, n_bands=65)
    with pytest.raises(ValueError, match="n_bands"):
        audio_envelope_fingerprint(df, n_bands=1)


def test_audio_envelope_short_clip_visible_null_fp(spark):
    """Clips that decode but are shorter than n_bands frames emit their
    row with a NULL fp (visible to downstream audits) instead of
    silently vanishing — ADVICE r7 item #2."""
    short = encode_wav(
        (2 * np.arange(8, dtype=np.int64)).reshape(8, 1), 8000
    )
    df = spark.createDataFrame(
        [(1, short)], "media_id long, payload binary"
    )
    rows = audio_envelope_fingerprint(df, n_bands=64).collect()
    assert len(rows) == 1
    assert rows[0]["fp"] is None
    assert rows[0]["n_frames"] == 8 and rows[0]["sample_rate"] == 8000


# ---------------------------------------------------------------------------
# audio_envelope_pairs — the simhash-style hot-bucket discipline
# ---------------------------------------------------------------------------


def _fps_fixture(spark):
    rows = (
        # hot bucket: 6 clips share fp=42
        [(i, 64, 8000, 42) for i in range(6)]
        # cold bucket: 2 clips share fp=7
        + [(10, 64, 8000, 7), (11, 64, 8000, 7)]
        # singleton + short clip (NULL fp)
        + [(20, 64, 8000, 9), (21, 4, 8000, None)]
    )
    return spark.createDataFrame(
        rows, "media_id long, n_frames long, sample_rate long, fp long"
    )


def test_audio_envelope_pairs_hot_bucket_star(spark):
    """Buckets above the cap emit f-1 star edges to the bucket min —
    identical connectivity, never the f·(f-1)/2 quadratic."""
    fps = _fps_fixture(spark)
    out = audio_envelope_pairs(fps, hot_bucket_cap=4).collect()
    hot = sorted((r["id_a"], r["id_b"]) for r in out if r["fp"] == 42)
    assert hot == [(0, i) for i in range(1, 6)]  # star, not 15 pairs
    cold = [(r["id_a"], r["id_b"]) for r in out if r["fp"] == 7]
    assert cold == [(10, 11)]  # below cap: all pairs
    assert not [r for r in out if r["fp"] == 9]  # singleton: no pair
    assert all(r["fp"] is not None for r in out)  # NULL fp never pairs


def test_audio_envelope_pairs_uncapped_matches_quadratic(spark):
    fps = _fps_fixture(spark)
    out = audio_envelope_pairs(fps).collect()
    assert len(out) == 15 + 1  # C(6,2) + C(2,2)
    assert all(r["id_a"] < r["id_b"] for r in out)


def test_audio_envelope_star_preserves_connectivity(spark):
    """Star edges reach every hot-bucket member from the hub, so any
    connected-components pass downstream recovers the same clusters as
    the full quadratic expansion."""
    fps = _fps_fixture(spark)
    star = audio_envelope_pairs(fps, hot_bucket_cap=4).collect()
    full = audio_envelope_pairs(fps).collect()

    def clusters(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for e in edges:
            ra, rb = find(e["id_a"]), find(e["id_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out: dict[int, set[int]] = {}
        for x in parent:
            out.setdefault(find(x), set()).add(x)
        return {frozenset(v) for v in out.values()}

    assert clusters(star) == clusters(full)


# ---------------------------------------------------------------------------
# quality_classifier_train / quality_pr_curve_trained — the distributed
# GD trainer (iterative fixpoint #5, closes VERDICT r7 "What's missing" #2)
# ---------------------------------------------------------------------------


def test_quality_classifier_train_learns(spark, sf_dir):
    """The trajectory must show real learning: 9 rows, round-0 weights
    all zero at base-rate accuracy, accuracy strictly better by the
    final round, weights finite and 6-dp-quantized."""
    rows = q.queries()["quality_classifier_train"](spark, sf_dir).collect()
    assert [r["round"] for r in rows] == list(range(9))
    r0, rf = rows[0], rows[-1]
    assert (
        r0["w_bias"] == r0["w_distinct"] == r0["w_top"]
        == r0["w_len"] == r0["w_stop"] == 0.0
    )
    assert rf["acc6"] >= r0["acc6"] + 0.2  # learned, not drifted
    assert rf["acc6"] > 0.85
    for r in rows:
        for c in ("w_bias", "w_distinct", "w_top", "w_len", "w_stop"):
            v = r[c]
            # 6-dp quantization: floor(v*1e6+0.5)/1e6 is a fixpoint
            import math

            assert math.isfinite(v)
            assert abs(math.floor(v * 1e6 + 0.5) / 1e6 - v) < 1e-12


def test_quality_pr_trained_beats_fixed(spark, sf_dir):
    """The honest comparison the query exists for: on the corpus the
    trainer fit, the trained model's best F1 must beat the fixed
    illustrative weights' best F1 (both against the same tuned-gate
    labels, same threshold grid)."""
    rows = q.queries()["quality_pr_curve_trained"](spark, sf_dir).collect()
    best = {}
    for r in rows:
        best[r["model"]] = max(best.get(r["model"], 0.0), r["f1_6"])
    assert set(best) == {"fixed", "trained"}
    assert best["trained"] > best["fixed"]


def test_quality_classifier_train_separable_fixture(spark):
    """On a crafted perfectly-separable corpus (high-quality docs with
    diverse vocabulary + stopwords vs single-token spam), the trainer
    must reach high train accuracy from the 50% start."""
    from etl_weather_spark.queries import (
        _qct_chain,  # noqa: PLC2701 — intra-package test of the chain
    )
    import etl_weather_spark.queries as qq

    good = [
        (
            i,
            # >=50 words, mean word length 3..10, >=80% alphabetic,
            # a stopword present — passes every tuned-gate rule
            "the quick brown fox jumps over and rests in of green glade "
            + " ".join(f"word{i}x{j}" for j in range(50)),
        )
        for i in range(8)
    ]
    spam = [(100 + i, " ".join(["buy"] * 40)) for i in range(8)]
    docs = spark.createDataFrame(good + spam, "doc_id long, text string")

    feats = qq._quality_logistic_core(docs).select(
        "doc_id", "f_distinct", "f_top", "f_len", "f_stop"
    )
    labels = qq._gopher_tuned_core(docs).select(
        "doc_id",
        (qq.F.when(qq.F.col("keep"), 1.0).otherwise(0.0)).alias("y"),
    )
    train = feats.join(labels, "doc_id")
    # sanity: the crafted corpus really has both classes
    ys = {r["y"] for r in train.select("y").distinct().collect()}
    assert ys == {0.0, 1.0}

    w = (
        spark.range(1)
        .select(*[qq.F.lit(0.0).alias(c) for c in ("wb", "w1", "w2", "w3", "w4")])
    )
    accs = []
    for _ in range(9):
        agg = qq._qct_pass(train, w)
        row = agg.collect()[0]
        accs.append(row["n_correct"] / row["n"])
        w = w.crossJoin(qq.F.broadcast(agg)).select(
            *[
                qq.rnd(
                    qq.F.col(wc) - qq.F.lit(2.0) * qq.rnd(qq.F.col(sc) / qq.F.col("n"), 6),
                    6,
                ).alias(wc)
                for wc, sc in [
                    ("wb", "sb"), ("w1", "s1"), ("w2", "s2"),
                    ("w3", "s3"), ("w4", "s4"),
                ]
            ]
        )
    assert accs[0] == 0.5
    assert max(accs) == 1.0  # separable: GD must find a separator


# ---------------------------------------------------------------------------
# snapshot_diff_between / snapshot_resemblance_between — the diff pair
# over REAL committed snapshot versions (closes VERDICT r7 item #5:
# the parity-half stand-in replaced by manifest-pointer time travel)
# ---------------------------------------------------------------------------


def _write_two_snapshots(spark, tmp_path):
    from etl_weather_spark.sources.snapshots import snapshot_write

    table = str(tmp_path / "corpus_snap")
    v0_rows = [
        (1, "web", "alpha beta gamma"),          # removed in v1
        (2, "web", "delta epsilon zeta"),        # retained
        (3, "web", "eta theta iota"),            # retained (case-changed)
        (4, "wiki", "kappa lambda mu"),          # retained
        (5, "wiki", "nu xi omicron"),            # retained
    ]
    v1_rows = [
        (12, "web", "delta epsilon zeta"),       # same content, new id
        (13, "web", "ETA THETA   IOTA"),         # fingerprint-normalized dup
        (14, "web", "pi rho sigma"),             # added
        (15, "web", "tau upsilon phi"),          # added
        (16, "web", "pi rho sigma"),             # exact dup inside v1: collapses
        (17, "wiki", "kappa lambda mu"),
        (18, "wiki", "nu xi omicron"),
    ]
    schema = "doc_id long, source string, text string"
    va = snapshot_write(spark.createDataFrame(v0_rows, schema), table)
    vb = snapshot_write(spark.createDataFrame(v1_rows, schema), table)
    assert (va, vb) == (0, 1)
    return table


def test_snapshot_diff_between_real_versions(spark, tmp_path):
    """Hand-planted added/removed/retained counts recovered exactly
    from two REAL committed snapshot versions — fingerprint identity
    (whitespace/case-normalized), duplicate content collapsed."""
    from etl_weather_spark.queries import snapshot_diff_between

    table = _write_two_snapshots(spark, tmp_path)
    rows = {
        r["source"]: r
        for r in snapshot_diff_between(spark, table).collect()
    }
    web, wiki = rows["web"], rows["wiki"]
    assert (web["n_a"], web["n_b"]) == (3, 4)
    assert (web["retained"], web["added"], web["removed"]) == (2, 2, 1)
    assert (wiki["retained"], wiki["added"], wiki["removed"]) == (2, 0, 0)
    assert wiki["churn_rate6"] == 0.0
    # explicit versions give the same answer as the defaults
    again = {
        r["source"]: r
        for r in snapshot_diff_between(spark, table, v_a=0, v_b=1).collect()
    }
    assert again["web"]["retained"] == 2


def test_snapshot_resemblance_between_real_versions(spark, tmp_path):
    from etl_weather_spark.queries import snapshot_resemblance_between

    table = _write_two_snapshots(spark, tmp_path)
    row = snapshot_resemblance_between(spark, table).collect()[0]
    assert 0.0 < row["exact_j4"] < 1.0  # overlapping but changed
    assert 0.0 <= row["est_j4"] <= 1.0
    assert row["n_seeds"] == 16


def test_snapshot_diff_between_single_version_refuses(spark, tmp_path):
    from etl_weather_spark.queries import snapshot_diff_between
    from etl_weather_spark.sources.snapshots import snapshot_write

    table = str(tmp_path / "single_snap")
    snapshot_write(
        spark.createDataFrame(
            [(1, "web", "only version")], "doc_id long, source string, text string"
        ),
        table,
    )
    with pytest.raises(ValueError, match="single version"):
        snapshot_diff_between(spark, table)
    with pytest.raises(FileNotFoundError):
        snapshot_diff_between(spark, str(tmp_path / "missing_snap"))


def test_snapshot_diff_cli(spark, tmp_path, capsys):
    """The cli.py snapshot-diff subcommand end to end over the real
    table — one JSON line per source."""
    import json

    from etl_weather_spark.cli import main

    table = _write_two_snapshots(spark, tmp_path)
    assert main(["snapshot-diff", table]) == 0
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    by_src = {d["source"]: d for d in lines}
    assert by_src["web"]["added"] == 2 and by_src["web"]["removed"] == 1
    assert main(["snapshot-diff", table, "--sketch"]) == 0
    sk = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ][0]
    assert sk["n_seeds"] == 16


# ---------------------------------------------------------------------------
# round-8 wave 2: holdout generalization, disagreement queue, feature
# importance
# ---------------------------------------------------------------------------


def test_quality_classifier_holdout_generalizes(spark, sf_dir):
    """Held-out best F1 must beat the all-keep baseline (threshold -1
    row: keep everything) — the model carries signal onto docs it never
    saw; and the sweep rows must be internally consistent."""
    rows = q.queries()["quality_classifier_holdout"](spark, sf_dir).collect()
    assert len(rows) == 9
    n_eval = rows[0]["tp"] + rows[0]["fp"] + rows[0]["fn"] + rows[0]["tn"]
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n_eval
    baseline_f1 = rows[0]["f1_6"]  # threshold -1: everything kept
    assert max(r["f1_6"] for r in rows) > baseline_f1
    # recall is monotone non-increasing in the threshold
    recalls = [r["recall6"] for r in rows]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))


def test_quality_label_disagreement_queue(spark, sf_dir):
    rows = q.queries()["quality_label_disagreement"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    azs = [abs(r["z"]) for r in rows]
    assert all(a >= b for a, b in zip(azs, azs[1:]))  # most confident first
    for r in rows:
        assert r["pred_keep"] != r["label_keep"]  # every row is a disagreement
        expect = "false_reject" if r["label_keep"] else "false_accept"
        assert r["error_type"] == expect


def test_quality_feature_importance_semantics(spark, sf_dir):
    rows = q.queries()["quality_feature_importance"](spark, sf_dir).collect()
    assert {r["feature"] for r in rows} == {
        "f_distinct", "f_top", "f_len", "f_stop",
    }
    imps = [r["importance6"] for r in rows]
    assert all(a >= b for a, b in zip(imps, imps[1:]))  # sorted desc
    for r in rows:
        assert r["std6"] >= 0.0
        assert abs(r["importance6"] - abs(r["weight"]) * r["std6"]) < 2e-6


# ---------------------------------------------------------------------------
# round-8 wave 3: data maps, gate agreement, calibration
# ---------------------------------------------------------------------------


def test_training_data_map_regions(spark, sf_dir):
    rows = q.queries()["training_data_map"](spark, sf_dir).collect()
    assert len(rows) > 0
    regions = {r["region"] for r in rows}
    assert regions <= {"ambiguous", "easy_to_learn", "hard_to_learn", "mid"}
    for r in rows:
        assert 0.0 <= r["conf6"] <= 1.0
        assert r["var6"] >= 0.0
        # region consistency with the documented thresholds
        if r["var6"] >= 0.045:
            assert r["region"] == "ambiguous"
        elif r["conf6"] >= 0.58:
            assert r["region"] == "easy_to_learn"
        elif r["conf6"] <= 0.50:
            assert r["region"] == "hard_to_learn"
        else:
            assert r["region"] == "mid"


def test_gate_agreement_kappa_semantics(spark, sf_dir):
    rows = {r["pair"]: r for r in q.queries()["gate_agreement_kappa"](spark, sf_dir).collect()}
    assert set(rows) == {
        "gate_vs_fixed", "gate_vs_trained", "fixed_vs_trained",
    }
    for r in rows.values():
        assert r["n_both_keep"] + r["n_both_drop"] + r["n_disagree"] == r["n"]
        assert -1.0 <= r["kappa6"] <= 1.0
    # the trained model learned FROM the gate: that pair must agree far
    # beyond chance, and beyond the never-fit fixed weights' agreement
    assert rows["gate_vs_trained"]["kappa6"] > 0.5
    assert rows["gate_vs_trained"]["kappa6"] > rows["gate_vs_fixed"]["kappa6"]


def test_quality_calibration_curve_semantics(spark, sf_dir):
    rows = q.queries()["quality_calibration_curve"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    n_total = sum(r["n"] for r in rows)
    ece = rows[0]["ece6"]
    assert all(r["ece6"] == ece for r in rows)  # repeated scalar
    # recompute ECE from the rows (same rounding discipline)
    import math

    expect = math.floor(
        (sum(r["n"] * r["gap6"] for r in rows) / n_total) * 1e6 + 0.5
    ) / 1e6
    assert abs(ece - expect) < 2e-6
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert r["bin"] / 10 - 1e-9 <= r["mean_p6"] <= (r["bin"] + 1) / 10 + 1e-9


# ---------------------------------------------------------------------------
# round-8 wave 4: t-closeness + bootstrap F1 CI
# ---------------------------------------------------------------------------


def test_t_closeness_audit_semantics(spark, sf_dir):
    rows = q.queries()["t_closeness_audit"](spark, sf_dir).collect()
    assert len(rows) > 0
    mx = rows[0]["max_tvd6"]
    assert all(r["max_tvd6"] == mx for r in rows)
    assert max(r["tvd6"] for r in rows) == mx
    for r in rows:
        assert 0.0 <= r["tvd6"] <= 1.0 + 1e-9
        assert r["t_ok"] == (r["tvd6"] <= 0.2)
    assert 0.0 <= rows[0]["risk_share4"] <= 1.0


def test_t_closeness_uniform_class_passes(spark):
    """A corpus where every class mirrors the global language mix has
    TVD ~0 everywhere — the audit must call it t-ok."""
    import etl_weather_spark.queries as qq

    rows = []
    did = 0
    for band in range(3):
        for src in ("a", "b"):
            for lang in ("en", "de"):
                for _ in range(5):
                    rows.append((did, src, lang, band * 100 + 50, "x"))
                    did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long, text string"
    )
    # call the registered body against a temp view via the core path:
    # rebuild the same plan on this docs relation
    cls = docs.select(
        "source",
        qq.F.floor(qq.F.col("n_chars") / qq.F.lit(100.0)).cast("long").alias("len_band"),
        "lang",
    )
    cl = cls.groupBy("source", "len_band", "lang").agg(
        qq.F.count(qq.F.lit(1)).cast("long").alias("n")
    )
    classes = cl.groupBy("source", "len_band").agg(
        qq.F.sum("n").cast("long").alias("n_docs")
    )
    langs = cl.groupBy("lang").agg(qq.F.sum("n").cast("long").alias("nl"))
    tot = langs.agg(qq.F.sum("nl").cast("long").alias("total"))
    grid = (
        classes.crossJoin(qq.F.broadcast(langs))
        .crossJoin(qq.F.broadcast(tot))
        .join(cl, ["source", "len_band", "lang"], "left")
        .select(
            "source", "len_band",
            qq.rnd(qq.F.coalesce(qq.F.col("n"), qq.F.lit(0)) * 1.0 / qq.F.col("n_docs"), 6).alias("p6"),
            qq.rnd(qq.F.col("nl") * 1.0 / qq.F.col("total"), 6).alias("q6"),
        )
    )
    tv = grid.groupBy("source", "len_band").agg(
        qq.rnd(qq.dsum(qq.F.abs(qq.F.col("p6") - qq.F.col("q6")), 7) * 0.5, 6).alias("tvd6")
    )
    assert all(r["tvd6"] < 1e-6 for r in tv.collect())


def test_quality_f1_bootstrap_semantics(spark, sf_dir):
    rows = q.queries()["quality_f1_bootstrap"](spark, sf_dir).collect()
    assert len(rows) == 32
    f1s = sorted(r["f1_6"] for r in rows)
    lo, hi, mean = rows[0]["f1_lo6"], rows[0]["f1_hi6"], rows[0]["mean_f1_6"]
    assert lo == f1s[1] and hi == f1s[-2]  # 2nd and 31st order stats
    assert f1s[0] <= mean <= f1s[-1]
    # resamples genuinely differ (the weights are not all 1)
    assert len(set(f1s)) > 1
    # deterministic: second run bit-identical
    again = q.queries()["quality_f1_bootstrap"](spark, sf_dir).collect()
    assert [r["f1_6"] for r in again] == [r["f1_6"] for r in rows]


# ---------------------------------------------------------------------------
# round-8 flagship: the funnel with the trained gate
# ---------------------------------------------------------------------------


def test_funnel_v4_trained_gate_semantics(spark, sf_dir):
    """v4 must share v2's monotone-survivor contract, differ from v2
    only at/after the swapped quality stage, and its trained gate must
    be near-transparent after the Gopher stage it learned from (the
    redundancy gate_agreement_kappa's 0.86 predicts)."""
    v4 = q.queries()["corpus_prep_funnel_v4"](spark, sf_dir).collect()
    v2 = q.queries()["corpus_prep_funnel_v2"](spark, sf_dir).collect()
    names4 = [r["stage_name"] for r in v4]
    assert names4[4] == "quality_trained_keep"
    assert [r["stage_name"] for r in v2][4] == "quality_keep"
    # monotone survivors
    kept = [r["n_kept"] for r in v4]
    assert all(a >= b for a, b in zip(kept, kept[1:]))
    # stages before the swap are identical populations
    for i in range(4):
        assert v4[i]["n_kept"] == v2[i]["n_kept"]
        assert v4[i]["id_checksum"] == v2[i]["id_checksum"]
    # the trained gate learned from the gopher gate, so it keeps almost
    # every gopher survivor (>=90% here; exact transparency at small SF)
    assert v4[4]["n_kept"] >= 0.9 * v4[3]["n_kept"]


def test_quality_budget_threshold_semantics(spark, sf_dir):
    """Each budget row keeps the smallest ≥⌈frac·N⌉ set; thresholds are
    monotone decreasing in the budget; ties keep together."""
    rows = q.queries()["quality_budget_threshold"](spark, sf_dir).collect()
    assert [r["budget_frac6"] for r in rows] == [0.25, 0.5, 0.75, 1.0]
    ts = [r["threshold_z"] for r in rows]
    assert all(a >= b for a, b in zip(ts, ts[1:]))  # lower budget = stricter
    for r in rows:
        assert r["n_kept"] >= r["target"]  # at least the budget
    assert rows[-1]["kept_share6"] == 1.0


def test_dedup_quality_interaction_semantics(spark, sf_dir):
    rows = {r["band"]: r for r in q.queries()["dedup_quality_interaction"](spark, sf_dir).collect()}
    assert set(rows) <= {"no_dup", "dup_2", "dup_3_plus"}
    assert "no_dup" in rows
    total = sum(r["n_docs"] for r in rows.values())
    # every trained-relation doc lands in exactly one band
    n_train = q._qct_train_relation(spark, sf_dir).count()
    assert total == n_train
    for r in rows.values():
        assert 0.0 <= r["pred_keep_rate6"] <= 1.0
        assert 0.0 <= r["gate_keep_rate6"] <= 1.0


def test_audio_envelope_pairs_star_equivalence_property(spark):
    """Property: for ANY fingerprint multiset, the star-capped pair set
    yields the same connected components as the full quadratic
    expansion — checked over a grid of crafted bucket layouts
    (hypothesis-style, deterministic cases for session-fixture speed).
    """
    cases = [
        [1],                      # singleton only
        [5],                      # one hot bucket
        [2, 2, 2],                # all cold
        [7, 1, 3, 2],             # mixed hot/cold/singleton
        [4, 4],                   # exactly at cap
        [5, 5, 1],                # two hot buckets
    ]
    for sizes in cases:
        rows, nid, fp = [], 0, 100
        for s in sizes:
            for _ in range(s):
                rows.append((nid, 64, 8000, fp))
                nid += 1
            fp += 1
        fps = spark.createDataFrame(
            rows, "media_id long, n_frames long, sample_rate long, fp long"
        )
        star = audio_envelope_pairs(fps, hot_bucket_cap=4).collect()
        full = audio_envelope_pairs(fps).collect()

        def comps(edges, n):
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for e in edges:
                ra, rb = find(e["id_a"]), find(e["id_b"])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            return [find(i) for i in range(n)]

        assert comps(star, nid) == comps(full, nid), sizes
        # star never exceeds linear edges per bucket
        from collections import Counter

        per_fp = Counter(r["fp"] for r in star)
        for f, s in zip(range(100, 100 + len(sizes)), sizes):
            if s > 4:
                assert per_fp[f] == s - 1  # star edges exactly
