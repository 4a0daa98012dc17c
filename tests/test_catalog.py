"""Multi-table catalog: atomic cross-table snapshot commits."""

from __future__ import annotations

import pytest

from etl_weather_spark.sources.catalog import (
    catalog_commit_tables,
    catalog_current,
    catalog_read,
    catalog_versions,
)
from etl_weather_spark.sources.snapshots import snapshot_write


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _embs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, norm double")


def _pairs(spark, cat, cv=None):
    d = {r["doc_id"]: r["text"] for r in catalog_read(spark, cat, "docs", catalog_version=cv).collect()}
    e = {r["doc_id"]: r["norm"] for r in catalog_read(spark, cat, "embs", catalog_version=cv).collect()}
    return d, e


def test_atomic_commit_and_cross_table_time_travel(spark, tmp_path):
    cat = str(tmp_path / "cat")
    v0 = catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "one")]), "embs": _embs(spark, [(1, 0.5)])},
    )
    v1 = catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "one"), (2, "two")]),
         "embs": _embs(spark, [(1, 0.5), (2, 0.7)])},
    )
    assert (v0, v1) == (0, 1)
    assert _pairs(spark, cat) == ({1: "one", 2: "two"}, {1: 0.5, 2: 0.7})
    # cross-table time travel: BOTH tables at the v0 pin
    assert _pairs(spark, cat, cv=v0) == ({1: "one"}, {1: 0.5})


def test_partial_update_carries_other_tables_forward(spark, tmp_path):
    cat = str(tmp_path / "cat")
    catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "a")]), "embs": _embs(spark, [(1, 0.1)])},
    )
    v1 = catalog_commit_tables(spark, cat, {"docs": _docs(spark, [(1, "a2")])})
    d, e = _pairs(spark, cat, cv=v1)
    assert d == {1: "a2"} and e == {1: 0.1}  # embs pinned forward unchanged


def test_writer_crash_before_catalog_swap_is_invisible(spark, tmp_path):
    """Simulated torn writer: one table already has a NEW per-table
    snapshot version, but the catalog pointer was never swapped —
    catalog readers must keep seeing the old, mutually-consistent
    pair (the per-table pointer is never consulted)."""
    cat = str(tmp_path / "cat")
    catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "old")]), "embs": _embs(spark, [(1, 0.1)])},
    )
    pins = catalog_versions(cat)
    # the "crash": docs advances out-of-band, no catalog commit
    snapshot_write(_docs(spark, [(1, "TORN"), (2, "TORN")]), pins["docs"]["path"])
    assert catalog_current(cat) == 0
    assert _pairs(spark, cat) == ({1: "old"}, {1: 0.1})
    # and the next successful commit heals: it pins fresh versions
    catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "new")]), "embs": _embs(spark, [(1, 0.2)])},
    )
    assert _pairs(spark, cat) == ({1: "new"}, {1: 0.2})


def test_read_unknown_table_or_empty_catalog_raises(spark, tmp_path):
    cat = str(tmp_path / "cat")
    with pytest.raises(FileNotFoundError):
        catalog_versions(cat)
    catalog_commit_tables(spark, cat, {"docs": _docs(spark, [(1, "x")])})
    with pytest.raises(KeyError):
        catalog_read(spark, cat, "nope")


def test_catalog_expire_keeps_pinned_old_versions(spark, tmp_path):
    """A table unchanged across many catalog commits stays pinned at an
    OLD per-table version — catalog-aware GC must keep it while
    dropping truly-unreferenced versions."""
    from etl_weather_spark.sources.catalog import catalog_expire

    cat = str(tmp_path / "cat")
    catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "d0")]), "embs": _embs(spark, [(1, 0.0)])},
    )
    # docs churns 3 more times; embs never changes (stays pinned at v0)
    for i in range(1, 4):
        catalog_commit_tables(spark, cat, {"docs": _docs(spark, [(1, f"d{i}")])})

    expired = catalog_expire(cat)
    # catalog v2, v3 survive -> docs v2, v3 pinned; docs v0, v1 expired
    assert expired == {"docs": [0, 1]}
    d, e = _pairs(spark, cat)
    assert d == {1: "d3"} and e == {1: 0.0}  # embs v0 still readable
    d2, e2 = _pairs(spark, cat, cv=2)
    assert d2 == {1: "d2"} and e2 == {1: 0.0}
    with pytest.raises(FileNotFoundError):
        _pairs(spark, cat, cv=0)  # genuinely expired


def test_stream_commit_tables_atomic_per_batch_and_replay_safe(spark, tmp_path):
    """Streaming medallion publish: each micro-batch commits its
    derived tables as one catalog version; a replayed batch id is a
    no-op."""
    from pyspark.sql import functions as F

    from etl_weather_spark.sources.catalog import (
        catalog_history,
        stream_commit_tables,
    )

    src = str(tmp_path / "in")
    cat = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{name}")

    derive = {
        "docs": lambda b: b,
        "stats": lambda b: b.select(
            "doc_id", F.length("text").alias("n_chars")
        ),
    }
    land([(1, "alpha")], "b0")
    q = stream_commit_tables(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "10")
        .parquet(src + "/*"),
        catalog=cat, checkpoint=ckpt, derive=derive,
    )
    q.awaitTermination(120)
    v_after = catalog_current(cat)
    docs = {r["doc_id"]: r["text"] for r in catalog_read(spark, cat, "docs").collect()}
    stats = {r["doc_id"]: r["n_chars"] for r in catalog_read(spark, cat, "stats").collect()}
    assert docs == {1: "alpha"} and stats == {1: 5}

    # replay: same checkpoint, no new files -> no new catalog version
    q2 = stream_commit_tables(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "10")
        .parquet(src + "/*"),
        catalog=cat, checkpoint=ckpt, derive=derive,
    )
    q2.awaitTermination(120)
    assert catalog_current(cat) == v_after

    # second batch: both derived tables advance together
    land([(2, "bee")], "b1")
    q3 = stream_commit_tables(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "10")
        .parquet(src + "/*"),
        catalog=cat, checkpoint=ckpt, derive=derive,
    )
    q3.awaitTermination(120)
    assert len(catalog_history(cat)) == v_after + 2
    stats2 = {r["doc_id"]: r["n_chars"] for r in catalog_read(spark, cat, "stats").collect()}
    assert stats2 == {2: 3}  # overwrite mode: per-batch derived tables


def test_stream_publish_replay_after_crash_past_swap_is_noop(
    spark, tmp_path, monkeypatch
):
    """A crash right after the catalog pointer swap fails the batch
    before its offsets commit, so the restarted query replays it. The
    batch marker must already sit in the swapped-in manifest: the replay
    then finds it and commits no second version."""
    import os

    from pyspark.errors import StreamingQueryException

    from etl_weather_spark.sources.catalog import (
        catalog_history,
        catalog_manifest,
        stream_commit_tables,
    )

    src = str(tmp_path / "in")
    cat = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "alpha")], "doc_id long, text string").write.parquet(
        f"{src}/b0"
    )
    pointer = os.path.join(cat, "_latest")
    real_replace = os.replace

    def replace_then_crash(src_path, dst_path):
        real_replace(src_path, dst_path)
        if dst_path == pointer:
            raise OSError("crash after the catalog pointer swap")

    def publish():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src + "/*"
        )
        q = stream_commit_tables(
            stream, catalog=cat, checkpoint=ckpt, derive={"docs": lambda b: b}
        )
        q.awaitTermination(120)

    monkeypatch.setattr(os, "replace", replace_then_crash)
    with pytest.raises(StreamingQueryException):
        publish()
    monkeypatch.undo()
    assert catalog_history(cat) == [0]

    publish()  # same checkpoint: batch 0 again
    assert catalog_history(cat) == [0]
    assert catalog_manifest(cat)["__batch_id"] == 0
    docs = {r["doc_id"]: r["text"] for r in catalog_read(spark, cat, "docs").collect()}
    assert docs == {1: "alpha"}


def test_concurrent_commit_claim_rebases_not_overwrites(spark, tmp_path):
    """Optimistic concurrency: if another writer claimed v{N} between
    our read and our commit, our commit must NOT overwrite it — it
    rebases (untouched tables follow the winner's pins) and lands at
    N+1."""
    import json
    import os

    cat = str(tmp_path / "cat")
    catalog_commit_tables(
        spark, cat,
        {"docs": _docs(spark, [(1, "d0")]), "embs": _embs(spark, [(1, 0.1)])},
    )
    # simulate a racer that claimed v1: pin embs at a new version
    pins = catalog_versions(cat)
    racer = {
        "docs": pins["docs"],
        "embs": {"path": pins["embs"]["path"], "version": pins["embs"]["version"]},
    }
    racer["embs"] = dict(racer["embs"])
    with open(os.path.join(cat, "_versions", "v1.json"), "w") as f:
        json.dump(racer, f)

    v = catalog_commit_tables(spark, cat, {"docs": _docs(spark, [(1, "mine")])})
    assert v == 2  # rebased past the racer's claim
    # racer's manifest untouched
    with open(os.path.join(cat, "_versions", "v1.json")) as f:
        assert json.load(f) == racer
    d, e = _pairs(spark, cat)
    assert d == {1: "mine"} and e == {1: 0.1}
