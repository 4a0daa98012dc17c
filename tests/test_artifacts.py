"""Committed-artifact registry (operators/artifacts.py): publish/read
roundtrip, compute-if-absent, and the staleness/refusal contract —
an audit must never silently run against a model trained on different
data or with a different recipe."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.operators.artifacts import (
    ArtifactMissingError,
    ArtifactStaleError,
    artifact_if_absent,
    artifact_meta,
    artifact_table,
    artifacts_root,
    dataset_fingerprint,
    dataset_key,
    publish_artifact,
    read_artifact,
)
from etl_weather_spark.sources.snapshots import current_version


@pytest.fixture()
def art_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", d)
    return d


def _one_row(spark, x=1.5):
    return spark.range(1).select(
        F.lit(x).alias("w"), F.lit("m").alias("tag")
    )


def test_root_env_override(art_dir):
    assert artifacts_root() == art_dir
    assert artifact_table("m", "k") == os.path.join(art_dir, "m", "k")


def test_publish_read_roundtrip(spark, art_dir):
    v = publish_artifact(
        _one_row(spark), "model", "ds", fingerprint="fp1", meta={"algo": "x"}
    )
    assert v == 0
    out = read_artifact(spark, "model", "ds", expect_fingerprint="fp1")
    row = out.collect()[0]
    assert (row.w, row.tag) == (1.5, "m")
    meta = artifact_meta("model", "ds")
    assert meta["fingerprint"] == "fp1"
    assert meta["algo"] == "x"


def test_missing_artifact_refused(spark, art_dir):
    with pytest.raises(ArtifactMissingError):
        read_artifact(spark, "model", "nope", expect_fingerprint="fp1")


def test_stale_artifact_refused(spark, art_dir):
    """The audit-refusal contract: a committed model whose fingerprint
    does not match the data/recipe the caller audits is an ERROR, not
    a silent stale read."""
    publish_artifact(_one_row(spark), "model", "ds", fingerprint="fp1")
    with pytest.raises(ArtifactStaleError, match="refusing"):
        read_artifact(spark, "model", "ds", expect_fingerprint="fp2")


def test_if_absent_builds_once_then_reads(spark, art_dir):
    calls = []

    def build():
        calls.append(1)
        return _one_row(spark)

    a = artifact_if_absent(
        spark, "model", "ds", fingerprint="fp1", build=build
    )
    b = artifact_if_absent(
        spark, "model", "ds", fingerprint="fp1", build=build
    )
    assert len(calls) == 1  # second call read the committed version
    assert a.collect() == b.collect()
    assert current_version(artifact_table("model", "ds")) == 0


def test_if_absent_rebuilds_on_stale_as_new_version(spark, art_dir):
    artifact_if_absent(
        spark, "model", "ds", fingerprint="fp1",
        build=lambda: _one_row(spark, 1.0),
    )
    out = artifact_if_absent(
        spark, "model", "ds", fingerprint="fp2",
        build=lambda: _one_row(spark, 2.0),
    )
    assert out.collect()[0].w == 2.0
    # re-publish is a NEW snapshot version; history stays readable
    assert current_version(artifact_table("model", "ds")) == 1
    old = read_artifact(spark, "model", "ds", version=0)
    assert old.collect()[0].w == 1.0


def test_if_absent_concurrent_miss_builds_once(spark, art_dir):
    """Two threads miss the same artifact together: the miss path's
    per-artifact lock lets one build and publish while the other waits
    and reads that commit — one build call, one committed version."""
    import threading
    import time

    calls = []
    start = threading.Barrier(2)
    errors = []

    def build():
        calls.append(1)
        time.sleep(0.5)
        return _one_row(spark)

    def run():
        try:
            start.wait(timeout=60)
            artifact_if_absent(
                spark, "model", "ds", fingerprint="fp1", build=build
            )
        except Exception as e:  # surfaced on the test thread
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(calls) == 1
    assert current_version(artifact_table("model", "ds")) == 0


def test_fingerprint_tracks_data_and_params(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "documents.parquet"
    f.write_bytes(b"abc")
    fp1 = dataset_fingerprint(str(sf), {"k": 1})
    assert fp1 == dataset_fingerprint(str(sf), {"k": 1})
    # param change -> new fingerprint
    assert fp1 != dataset_fingerprint(str(sf), {"k": 2})
    # data change (size or mtime) -> new fingerprint
    f.write_bytes(b"abcd")
    assert fp1 != dataset_fingerprint(str(sf), {"k": 1})


def test_dataset_key_distinguishes_same_basename(tmp_path):
    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    ka, kb = dataset_key(str(a)), dataset_key(str(b))
    assert ka != kb
    assert ka.startswith("sf0.01-") and kb.startswith("sf0.01-")


def test_committed_weights_equal_fresh_chain(spark, sf_dir, art_dir):
    """The registry read must be BIT-identical to retraining: the 6-dp
    decimal GD chain is deterministic, and parquet round-trips doubles
    exactly — this is what lets every audit's oracle keep unrolling
    the chain while the Spark side reads committed bytes."""
    from etl_weather_spark.queries import _qct_chain, _qct_weights

    committed = _qct_weights(spark, sf_dir).collect()[0].asDict()
    _chain, w = _qct_chain(spark, sf_dir)
    fresh = w.collect()[0].asDict()
    assert committed == fresh


def test_corpus_change_triggers_retrain(spark, tmp_path, art_dir):
    """End-to-end staleness: copy the corpus, publish, touch the
    parquet (mtime bump = new fingerprint), and the next read rebuilds
    as a new version instead of serving the stale model."""
    import shutil

    sf = tmp_path / "sfcopy"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", sf / "documents.parquet")
    from etl_weather_spark.queries import _qct_trajectory

    _qct_trajectory(spark, str(sf))
    name_key = ("quality_classifier", dataset_key(str(sf)))
    assert current_version(artifact_table(*name_key)) == 0
    os.utime(sf / "documents.parquet")  # corpus "changed"
    _qct_trajectory(spark, str(sf))
    assert current_version(artifact_table(*name_key)) == 1


def test_interrupted_publish_self_heals(spark, art_dir):
    """A publisher that crashed between the snapshot pointer swap and
    the meta write leaves a current version with NO meta file. The
    registry must surface that as ArtifactMissingError (not a bare
    FileNotFoundError) so artifact_if_absent self-heals by republishing
    instead of wedging permanently (ADVICE r9)."""
    publish_artifact(_one_row(spark), "model", "ds", fingerprint="fp1")
    os.remove(
        os.path.join(artifact_table("model", "ds"), "artifact_meta", "v0.json")
    )
    with pytest.raises(ArtifactMissingError):
        artifact_meta("model", "ds")
    with pytest.raises(ArtifactMissingError):
        read_artifact(spark, "model", "ds", expect_fingerprint="fp1")
    healed = artifact_if_absent(
        spark, "model", "ds", fingerprint="fp1",
        build=lambda: _one_row(spark, 9.0),
    )
    assert healed.collect()[0].w == 9.0
    assert current_version(artifact_table("model", "ds")) == 1


# ---------------------------------------------------------------------------
# Atomic multi-artifact RELEASE pins (round 10)
# ---------------------------------------------------------------------------

from etl_weather_spark.operators.artifacts import (  # noqa: E402
    MixedReleaseError,
    publish_release,
    read_release_artifact,
    release_artifact_read,
    release_if_absent,
    release_meta,
)


def test_publish_release_pins_current_versions(spark, art_dir):
    publish_artifact(_one_row(spark, 1.0), "a", "ds", fingerprint="fa",
                     meta={"data_fingerprint": "d1"})
    publish_artifact(_one_row(spark, 2.0), "b", "ds", fingerprint="fb",
                     meta={"data_fingerprint": "d1"})
    v = publish_release("ds", {"a": "fa", "b": "fb"}, data_fingerprint="d1")
    assert v == 0
    rel = release_meta("ds")
    assert rel["data_fingerprint"] == "d1"
    assert rel["pins"]["a"]["version"] == 0
    assert rel["pins"]["b"]["version"] == 0
    out = read_release_artifact(
        spark, "ds", "a", expect_fingerprint="fa", expect_data_fingerprint="d1"
    )
    assert out.collect()[0].w == 1.0


def test_half_rebuilt_registry_refused_as_mixed_release(spark, art_dir):
    """THE refusal the release exists for (VERDICT r9 next-item #1): one
    artifact was republished against a new corpus/recipe, the other was
    not — pinning that set must raise MixedReleaseError, not commit."""
    publish_artifact(_one_row(spark, 1.0), "a", "ds", fingerprint="fa-old")
    publish_artifact(_one_row(spark, 2.0), "b", "ds", fingerprint="fb-new")
    # the new corpus expects fa-new + fb-new; only b was rebuilt
    with pytest.raises(MixedReleaseError, match="mixed"):
        publish_release(
            "ds", {"a": "fa-new", "b": "fb-new"}, data_fingerprint="d2"
        )
    # nothing was committed
    with pytest.raises(ArtifactMissingError):
        release_meta("ds")


def test_release_read_refusal_ladder(spark, art_dir):
    publish_artifact(_one_row(spark, 1.0), "a", "ds", fingerprint="fa")
    publish_release("ds", {"a": "fa"}, data_fingerprint="d1")
    # corpus changed since the release was cut -> stale, refuse
    with pytest.raises(ArtifactStaleError, match="republish the release"):
        read_release_artifact(
            spark, "ds", "a",
            expect_fingerprint="fa", expect_data_fingerprint="d2",
        )
    # same corpus, but the caller's recipe expects a different artifact
    # fingerprint than the pin carries -> mixed, refuse
    with pytest.raises(MixedReleaseError, match="refusing"):
        read_release_artifact(
            spark, "ds", "a",
            expect_fingerprint="fa-v2", expect_data_fingerprint="d1",
        )
    # artifact the release never pinned -> missing
    with pytest.raises(ArtifactMissingError):
        read_release_artifact(
            spark, "ds", "nope",
            expect_fingerprint="x", expect_data_fingerprint="d1",
        )


def test_release_pin_immune_to_later_republish(spark, art_dir):
    """A pinned read returns the RELEASE's bytes even after the
    per-artifact registry moves on — that is what makes a release a
    release."""
    publish_artifact(_one_row(spark, 1.0), "a", "ds", fingerprint="fa")
    publish_release("ds", {"a": "fa"}, data_fingerprint="d1")
    publish_artifact(_one_row(spark, 9.0), "a", "ds", fingerprint="fa2")
    out = read_release_artifact(
        spark, "ds", "a", expect_fingerprint="fa", expect_data_fingerprint="d1"
    )
    assert out.collect()[0].w == 1.0  # pinned, not current


def test_release_if_absent_builds_pins_reuses_and_heals(spark, art_dir):
    calls = {"a": 0, "b": 0}

    def build(name, x):
        def _b():
            calls[name] += 1
            return _one_row(spark, x)
        return _b

    specs = {"a": ("fa", build("a", 1.0)), "b": ("fb", build("b", 2.0))}
    v0 = release_if_absent(spark, "ds", specs, data_fingerprint="d1")
    assert v0 == 0 and calls == {"a": 1, "b": 1}
    # current consistent release -> reused, nothing rebuilt
    assert release_if_absent(spark, "ds", specs, data_fingerprint="d1") == 0
    assert calls == {"a": 1, "b": 1}
    # corpus changed: half-rebuild a by hand (the mixed state), then
    # release_if_absent HEALS by rebuilding the rest + pinning anew
    publish_artifact(_one_row(spark, 1.5), "a", "ds", fingerprint="fa2",
                     meta={"data_fingerprint": "d2"})
    specs2 = {"a": ("fa2", build("a", 1.5)), "b": ("fb2", build("b", 2.5))}
    v1 = release_if_absent(spark, "ds", specs2, data_fingerprint="d2")
    assert v1 == 1
    assert calls == {"a": 1, "b": 2}  # a was already current, b rebuilt
    out = read_release_artifact(
        spark, "ds", "b", expect_fingerprint="fb2", expect_data_fingerprint="d2"
    )
    assert out.collect()[0].w == 2.5


def test_release_artifact_read_pinned_then_fallback(spark, art_dir):
    # no release committed -> per-artifact compute-if-absent fallback
    out = release_artifact_read(
        spark, "ds", "a", fingerprint="fa", data_fingerprint="d1",
        build=lambda: _one_row(spark, 1.0),
    )
    assert out.collect()[0].w == 1.0
    publish_release("ds", {"a": "fa"}, data_fingerprint="d1")
    # release current -> later republish is INVISIBLE (pinned read)
    publish_artifact(_one_row(spark, 9.0), "a", "ds", fingerprint="fa",
                     meta={"data_fingerprint": "d1"})
    pinned = release_artifact_read(
        spark, "ds", "a", fingerprint="fa", data_fingerprint="d1",
        build=lambda: _one_row(spark, 7.0),
    )
    assert pinned.collect()[0].w == 1.0
    # corpus moved past the release -> falls back, rebuilds current
    fresh = release_artifact_read(
        spark, "ds", "a", fingerprint="fa-d2", data_fingerprint="d2",
        build=lambda: _one_row(spark, 3.0),
    )
    assert fresh.collect()[0].w == 3.0


# ---------------------------------------------------------------------------
# Lifecycle: release-aware GC (round 10)
# ---------------------------------------------------------------------------

from etl_weather_spark.operators.artifacts import (  # noqa: E402
    artifacts_gc,
    artifacts_list,
)


def test_gc_keeps_pinned_release_drops_superseded(spark, art_dir):
    """The GC invariants: a version pinned by a surviving release
    survives even when many newer versions exist; unpinned superseded
    versions are PHYSICALLY dropped (manifest + meta + data dirs)."""
    publish_artifact(_one_row(spark, 0.0), "a", "ds", fingerprint="f0")
    publish_release("ds", {"a": "f0"}, data_fingerprint="d0")
    for i in range(1, 5):
        publish_artifact(_one_row(spark, float(i)), "a", "ds",
                         fingerprint=f"f{i}")
    table = artifact_table("a", "ds")
    assert current_version(table) == 4
    report = artifacts_gc(keep_last=2, keep_releases=2)
    # newest two (v3, v4) + release-pinned v0 survive; v1, v2 dropped
    assert report["expired"]["a/ds"] == [1, 2]
    assert report["kept_pinned"]["a/ds"] == [0]
    pinned = read_release_artifact(
        spark, "ds", "a", expect_fingerprint="f0", expect_data_fingerprint="d0"
    )
    assert pinned.collect()[0].w == 0.0  # pinned read still serves
    assert read_artifact(spark, "a", "ds").collect()[0].w == 4.0  # current
    for v in (1, 2):
        with pytest.raises(FileNotFoundError):
            read_artifact(spark, "a", "ds", version=v)
        assert not os.path.exists(
            os.path.join(table, "artifact_meta", f"v{v}.json")
        )


def test_gc_bounds_registry_across_rebuild_cycles(spark, art_dir):
    """N corpus-rebuild cycles (republish + re-release + gc each time)
    must leave the registry dir BOUNDED: version files and data dirs do
    not accrete past keep_last + keep_releases."""

    def sizes():
        table = artifact_table("a", "ds")
        manifests = len(os.listdir(os.path.join(table, "_manifests")))
        metas = len(os.listdir(os.path.join(table, "artifact_meta")))
        datadirs = len(os.listdir(os.path.join(table, "data")))
        from etl_weather_spark.operators.artifacts import release_catalog
        rels = len(os.listdir(os.path.join(release_catalog("ds"), "_versions")))
        return manifests, metas, datadirs, rels

    steady = None
    for cycle in range(6):
        publish_artifact(
            _one_row(spark, float(cycle)), "a", "ds",
            fingerprint=f"f{cycle}", meta={"data_fingerprint": f"d{cycle}"},
        )
        publish_release("ds", {"a": f"f{cycle}"}, data_fingerprint=f"d{cycle}")
        artifacts_gc(keep_last=2, keep_releases=2)
        if cycle >= 3:
            if steady is None:
                steady = sizes()
            assert sizes() == steady  # bounded: no growth cycle-over-cycle
    manifests, metas, datadirs, rels = sizes()
    assert manifests <= 3 and metas <= 3 and datadirs <= 3 and rels == 2


def test_artifacts_list_inventory(spark, art_dir):
    publish_artifact(_one_row(spark), "a", "ds", fingerprint="fa",
                     meta={"data_fingerprint": "d1"})
    publish_artifact(_one_row(spark), "b", "ds2", fingerprint="fb")
    rows = {(r["name"], r["key"]): r for r in artifacts_list()}
    assert rows[("a", "ds")]["current"] == 0
    assert rows[("a", "ds")]["data_fingerprint"] == "d1"
    assert rows[("b", "ds2")]["versions"] == 1


# ---------------------------------------------------------------------------
# Release diff (round 10): the promotion review between two releases
# ---------------------------------------------------------------------------

from etl_weather_spark.operators.artifacts import release_diff  # noqa: E402


def _rows(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_release_diff_counts_added_removed_unchanged(spark, art_dir):
    publish_artifact(_rows(spark, [1, 2, 3]), "a", "ds", fingerprint="fa0",
                     meta={"data_fingerprint": "d0"})
    publish_artifact(_rows(spark, [7]), "b", "ds", fingerprint="fb0",
                     meta={"data_fingerprint": "d0"})
    publish_release("ds", {"a": "fa0", "b": "fb0"}, data_fingerprint="d0")
    # corpus moves: a changes content, b is re-pinned unchanged, c is new
    publish_artifact(_rows(spark, [2, 3, 4, 5]), "a", "ds", fingerprint="fa1",
                     meta={"data_fingerprint": "d1"})
    publish_artifact(_rows(spark, [9, 9]), "c", "ds", fingerprint="fc1",
                     meta={"data_fingerprint": "d1"})
    publish_release(
        "ds", {"a": "fa1", "b": "fb0", "c": "fc1"}, data_fingerprint="d1"
    )
    rows = {r.artifact: r for r in release_diff(spark, "ds").collect()}
    a = rows["a"]
    assert (a.pin_a, a.pin_b, a.pin_moved) == (0, 1, True)
    assert (a.rows_a, a.rows_b, a.added, a.removed, a.unchanged) == (
        3, 4, 2, 1, 2,
    )
    b = rows["b"]
    assert (b.pin_a, b.pin_b, b.pin_moved) == (0, 0, False)
    assert (b.added, b.removed, b.unchanged) == (0, 0, 1)
    c = rows["c"]
    assert (c.pin_a, c.rows_a, c.rows_b, c.added, c.pin_moved) == (
        None, 0, 2, 2, True,
    )


def test_release_diff_refuses_single_release(spark, art_dir):
    publish_artifact(_rows(spark, [1]), "a", "ds", fingerprint="fa")
    publish_release("ds", {"a": "fa"}, data_fingerprint="d0")
    with pytest.raises(ValueError, match="single version"):
        release_diff(spark, "ds")
    with pytest.raises(ArtifactMissingError):
        release_diff(spark, "nope")


def test_release_rollback_append_only(spark, art_dir):
    """Rollback commits a NEW release with the old pins — pinned reads
    serve the rolled-to bytes, history stays intact, and a rollback to
    a release whose pins were GC'd refuses loudly."""
    from etl_weather_spark.operators.artifacts import release_rollback

    publish_artifact(_rows(spark, [1, 2]), "a", "ds", fingerprint="fa0",
                     meta={"data_fingerprint": "d0"})
    publish_release("ds", {"a": "fa0"}, data_fingerprint="d0")     # rel v0
    publish_artifact(_rows(spark, [9]), "a", "ds", fingerprint="fa1",
                     meta={"data_fingerprint": "d1"})
    publish_release("ds", {"a": "fa1"}, data_fingerprint="d1")     # rel v1

    v = release_rollback("ds", to_version=0)
    assert v == 2  # append-only: a NEW release version
    rel = release_meta("ds")
    assert rel["data_fingerprint"] == "d0"
    assert rel["pins"]["a"]["version"] == 0
    pinned = read_release_artifact(
        spark, "ds", "a", expect_fingerprint="fa0", expect_data_fingerprint="d0"
    )
    assert sorted(r.x for r in pinned.collect()) == [1, 2]
    # the rolled-past release v1 is still inspectable
    assert release_meta("ds", version=1)["pins"]["a"]["version"] == 1

    # expire the old pin's manifest out from under a future rollback
    import shutil
    shutil.rmtree(artifact_table("a", "ds"))
    publish_artifact(_rows(spark, [5]), "a", "ds", fingerprint="fa2")
    with pytest.raises(ArtifactMissingError, match="expired"):
        release_rollback("ds", to_version=0)


def test_randomized_lifecycle_invariants(spark, art_dir):
    """Randomized publish/release/gc/rollback sequences (fixed seed)
    must preserve the registry invariants at every step:
    - the current release, if any, is fully readable through strict
      pinned reads (never a dangling pin);
    - artifact_if_absent serves the expected bytes for the current
      fingerprint (compute-if-absent never wedges);
    - per-table version files stay bounded after each gc.
    """
    import random

    from etl_weather_spark.operators.artifacts import (
        release_if_absent,
        release_rollback,
    )

    rng = random.Random(20260817)
    gen = {"n": 0}
    current = {}  # name -> (fingerprint, value)
    released_at = {}  # what the latest release pinned, name -> value

    def fresh(name):
        gen["n"] += 1
        fp, val = f"f{gen['n']}", float(gen["n"])
        current[name] = (fp, val)
        return fp, val

    names = ["a", "b", "c"]
    for name in names:
        fresh(name)

    release_versions = []
    for step in range(40):
        op = rng.choice(["publish", "release", "gc", "rollback", "check"])
        if op == "publish":
            name = rng.choice(names)
            fp, val = fresh(name)
            publish_artifact(
                _one_row(spark, val), name, "ds", fingerprint=fp,
                meta={"data_fingerprint": f"d{gen['n']}"},
            )
        elif op == "release":
            data_fp = f"rel-d{gen['n']}"
            specs = {
                n: (current[n][0], (lambda v=current[n][1]: _one_row(spark, v)))
                for n in names
            }
            v = release_if_absent(spark, "ds", specs, data_fingerprint=data_fp)
            release_versions.append((v, dict(current), data_fp))
        elif op == "gc":
            artifacts_gc(keep_last=2, keep_releases=2)
        elif op == "rollback" and len(release_versions) >= 2:
            v, state, data_fp = release_versions[-2]
            try:
                nv = release_rollback("ds", to_version=v)
            except ArtifactMissingError:
                continue  # pins legitimately expired — refusal is correct
            release_versions.append((nv, state, data_fp))
        # INVARIANTS after every step
        if release_versions:
            v, state, data_fp = release_versions[-1]
            rel = release_meta("ds")
            if rel["version"] == v:  # still the current release
                for n, (fp, val) in state.items():
                    out = read_release_artifact(
                        spark, "ds", n,
                        expect_fingerprint=fp,
                        expect_data_fingerprint=data_fp,
                    )
                    assert out.collect()[0].w == val  # pinned bytes intact
        for n in names:
            fp, val = current[n]
            served = artifact_if_absent(
                spark, n, "ds", fingerprint=fp,
                build=lambda v=val: _one_row(spark, v),
            )
            assert served.collect()[0].w == val
    # bounded after a final gc: per-table versions <= keep_last + pins
    artifacts_gc(keep_last=2, keep_releases=2)
    from etl_weather_spark.sources.snapshots import snapshot_history
    for n in names:
        assert len(snapshot_history(artifact_table(n, "ds"))) <= 6
