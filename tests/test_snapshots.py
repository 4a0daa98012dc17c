"""Versioned-snapshot table format tests (sources/snapshots.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.sources.snapshots import (
    current_version,
    expire_snapshots,
    snapshot_compact,
    snapshot_history,
    snapshot_read,
    snapshot_write,
)


def test_overwrite_append_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = snapshot_write(spark.range(3).withColumn("v", F.lit("a")), t)
    v1 = snapshot_write(
        spark.range(3, 5).withColumn("v", F.lit("b")), t, mode="append"
    )
    v2 = snapshot_write(spark.range(100).withColumn("v", F.lit("c")), t)
    assert (v0, v1, v2) == (0, 1, 2)
    assert current_version(t) == 2

    assert snapshot_read(spark, t).count() == 100                 # latest
    assert snapshot_read(spark, t, version=1).count() == 5        # time travel
    assert snapshot_read(spark, t, version=0).count() == 3
    got = {r.v for r in snapshot_read(spark, t, version=1).select("v").distinct().collect()}
    assert got == {"a", "b"}
    assert [m["version"] for m in snapshot_history(t)] == [0, 1, 2]


def test_append_rewrites_no_data(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(10), t)
    files_before = set(glob.glob(f"{t}/data/*/*.parquet"))
    snapshot_write(spark.range(10, 20), t, mode="append")
    files_after = set(glob.glob(f"{t}/data/*/*.parquet"))
    assert files_before <= files_after  # immutable: appends only add


def test_compact_is_a_new_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(4):
        snapshot_write(
            spark.range(i * 100, (i + 1) * 100).repartition(5), t,
            mode="append" if i else "overwrite",
        )
    assert len(glob.glob(f"{t}/data/*/*.parquet")) == 20
    v = snapshot_compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    cur = snapshot_read(spark, t)
    assert cur.count() == 400
    assert cur.agg(F.sum("id")).collect()[0][0] == sum(range(400))
    # pre-compaction version still readable (time travel across compaction)
    assert snapshot_read(spark, t, version=v - 1).count() == 400
    # compacted version reads from a single new dir with 1 file
    from etl_weather_spark.sources.snapshots import _load_manifest

    m = _load_manifest(t, v)
    assert len(m["data_dirs"]) == 1
    assert len(glob.glob(f"{t}/{m['data_dirs'][0]}/*.parquet")) == 1


def test_expire_drops_only_unreferenced_dirs(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(5), t)                      # v0
    snapshot_write(spark.range(5, 9), t, mode="append")    # v1 (refs v0 dir)
    snapshot_write(spark.range(50), t)                     # v2 (fresh dir)
    expired = expire_snapshots(t, keep_last=2)
    assert expired == [0]
    # v1 survives and still reads BOTH its dirs (v0's dir was referenced)
    assert snapshot_read(spark, t, version=1).count() == 9
    assert snapshot_read(spark, t).count() == 50
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=0)


def test_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(7), t)
    # simulate a writer that died after landing data + manifest but
    # before the pointer swap: readers must keep seeing the old version
    os.makedirs(f"{t}/data/deadbeef")
    spark.range(999).write.mode("overwrite").parquet(f"{t}/data/deadbeef")
    with open(f"{t}/_manifests/v1.json", "w") as f:
        f.write('{"version": 1, "data_dirs": ["data/deadbeef"], "mode": "overwrite"}')
    assert current_version(t) == 0
    assert snapshot_read(spark, t).count() == 7


def test_checked_write_rejects_bad_data_and_commits_clean(spark, tmp_path):
    from etl_weather_spark.operators.profiling import in_range, not_null, unique_key
    from etl_weather_spark.sources.snapshots import (
        CheckViolation,
        current_version,
        snapshot_read,
        snapshot_write_checked,
    )

    table = str(tmp_path / "tbl")
    checks = [not_null("k"), unique_key("k"), in_range("v", 0, 100)]
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    v = snapshot_write_checked(good, table, checks=checks)
    assert v == 0

    bad = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (None, 999.0)], "k long, v double"
    )
    import pytest as _pytest

    with _pytest.raises(CheckViolation) as ei:
        snapshot_write_checked(bad, table, checks=checks)
    names = {c for c, _ in ei.value.failures}
    assert names == {"not_null(k)", "unique_key(k)", "in_range(v,0,100)"}
    # the table never saw the bad version
    assert current_version(table) == 0
    assert snapshot_read(spark, table).count() == 2


def test_rollback_is_append_only_and_expiry_safe(spark, tmp_path):
    from etl_weather_spark.sources.snapshots import (
        current_version,
        expire_snapshots,
        snapshot_read,
        snapshot_rollback,
        snapshot_write,
    )

    table = str(tmp_path / "tbl")
    snapshot_write(spark.createDataFrame([(1, "good")], "k long, v string"), table)
    snapshot_write(spark.createDataFrame([(1, "BAD")], "k long, v string"), table)
    v2 = snapshot_rollback(table, to_version=0)
    assert v2 == 2 and current_version(table) == 2
    assert [tuple(r) for r in snapshot_read(spark, table).collect()] == [(1, "good")]
    # the bad version stays time-travelable for forensics
    assert [tuple(r) for r in snapshot_read(spark, table, version=1).collect()] == [(1, "BAD")]
    # expiry keeps the rolled-back-to data: v2's manifest references
    # v0's data dirs, so dropping v0/v1 must not delete them
    assert expire_snapshots(table, keep_last=1) == [0, 1]
    assert [tuple(r) for r in snapshot_read(spark, table).collect()] == [(1, "good")]


def test_concurrent_version_claim_never_overwrites(spark, tmp_path):
    """Two writers racing the same prev+1 (round 10: os.link claim):
    a pre-claimed manifest for the next version — a racer mid-commit —
    forces the writer to the NEXT number instead of overwriting; the
    orphan manifest survives untouched and the pointer lands forward."""
    import json
    import os

    from etl_weather_spark.sources.snapshots import (
        current_version,
        snapshot_read,
        snapshot_write,
    )

    table = str(tmp_path / "t")
    snapshot_write(spark.createDataFrame([(1,)], "x long"), table)
    # simulate a racer that claimed v1 but has not swapped the pointer
    orphan = os.path.join(table, "_manifests", "v1.json")
    with open(orphan, "w") as f:
        json.dump({"version": 1, "data_dirs": [], "mode": "overwrite",
                   "committed_at": "racer"}, f)

    v = snapshot_write(
        spark.createDataFrame([(1,), (2,)], "x long"), table, mode="append"
    )
    assert v == 2  # claim collision -> next number, never overwrite
    assert current_version(table) == 2
    with open(orphan) as f:
        assert json.load(f)["committed_at"] == "racer"  # untouched
    got = sorted(r.x for r in snapshot_read(spark, table).collect())
    assert got == [1, 1, 2]  # append rebased on v0 (the visible state)


def test_append_rebases_onto_visible_winner_on_collision(spark, tmp_path):
    """A collision where the winner's commit IS visible: the loser's
    append must include the winner's data dirs (rebase), not fork from
    its stale prev."""
    import json
    import os

    from etl_weather_spark.sources.snapshots import (
        snapshot_read,
        snapshot_write,
    )

    table = str(tmp_path / "t")
    snapshot_write(spark.createDataFrame([(1,)], "x long"), table)     # v0
    snapshot_write(
        spark.createDataFrame([(2,)], "x long"), table, mode="append"
    )                                                                   # v1
    # orphan claim at v2 (a second racer mid-commit)
    with open(os.path.join(table, "_manifests", "v2.json"), "w") as f:
        json.dump({"version": 2, "data_dirs": [], "mode": "append",
                   "committed_at": "racer"}, f)
    v = snapshot_write(
        spark.createDataFrame([(3,)], "x long"), table, mode="append"
    )
    assert v == 3
    got = sorted(r.x for r in snapshot_read(spark, table).collect())
    assert got == [1, 2, 3]  # rebased onto v1, the visible winner


def test_rollback_claims_its_version_never_overwrites(spark, tmp_path):
    """A rollback commits like any writer: a racer that claimed v1 but
    has not swapped the pointer keeps its manifest byte for byte, and the
    rollback lands at the next free number."""
    import json

    from etl_weather_spark.sources.snapshots import snapshot_rollback

    table = str(tmp_path / "t")
    snapshot_write(spark.createDataFrame([(1,)], "x long"), table)  # v0
    racer = os.path.join(table, "_manifests", "v1.json")
    with open(racer, "w") as f:
        json.dump({"version": 1, "data_dirs": ["data/racer"], "mode": "overwrite",
                   "committed_at": "racer"}, f)
    with open(racer, "rb") as f:
        racer_bytes = f.read()

    assert snapshot_rollback(table, to_version=0) == 2
    with open(racer, "rb") as f:
        assert f.read() == racer_bytes
    assert current_version(table) == 2
    assert snapshot_history(table)[-1]["mode"] == "rollback(to=v0)"
    assert [r.x for r in snapshot_read(spark, table).collect()] == [1]
