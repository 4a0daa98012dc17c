"""Streaming CDC apply: change feed → snapshot table (streaming/cdc_apply)."""

from __future__ import annotations

from etl_weather_spark.sources.snapshots import (
    current_version,
    snapshot_read,
)
from etl_weather_spark.streaming.cdc_apply import (
    apply_changes_batch,
    stream_apply_changes,
)

SCHEMA = "k long, v string, seq long, op string"


def _rows(spark, table, version=None):
    return sorted(
        (r["k"], r["v"]) for r in snapshot_read(spark, table, version=version).collect()
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_apply_upsert_delete_and_within_batch_ordering(spark, tmp_path):
    table = str(tmp_path / "tbl")
    apply_changes_batch(
        _batch(spark, [(1, "a", 1, "upsert"), (2, "b", 1, "upsert")]),
        0,
        table=table,
        on=["k"],
        seq_col="seq",
        op_col="op",
    )
    assert _rows(spark, table) == [(1, "a"), (2, "b")]

    # one batch carrying two changes for key 1 — the later seq wins;
    # key 2 deleted; key 3 inserted
    apply_changes_batch(
        _batch(
            spark,
            [
                (1, "stale", 2, "upsert"),
                (1, "fresh", 3, "upsert"),
                (2, "b", 2, "delete"),
                (3, "c", 2, "upsert"),
            ],
        ),
        1,
        table=table,
        on=["k"],
        seq_col="seq",
        op_col="op",
    )
    assert _rows(spark, table) == [(1, "fresh"), (3, "c")]
    # time travel: pre-batch content still readable
    assert _rows(spark, table, version=0) == [(1, "a"), (2, "b")]


def test_replayed_batch_id_is_skipped(spark, tmp_path):
    table = str(tmp_path / "tbl")
    b0 = _batch(spark, [(1, "a", 1, "upsert")])
    apply_changes_batch(b0, 0, table=table, on=["k"], seq_col="seq", op_col="op")
    v_after = current_version(table)
    # at-least-once replay of the same batch id: no new version committed
    apply_changes_batch(b0, 0, table=table, on=["k"], seq_col="seq", op_col="op")
    assert current_version(table) == v_after
    assert _rows(spark, table) == [(1, "a")]


def test_bootstrap_batch_drops_deletes(spark, tmp_path):
    table = str(tmp_path / "tbl")
    apply_changes_batch(
        _batch(spark, [(1, "a", 1, "upsert"), (9, "x", 1, "delete")]),
        0,
        table=table,
        on=["k"],
        seq_col="seq",
        op_col="op",
    )
    assert _rows(spark, table) == [(1, "a")]


def test_stream_apply_changes_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    land([(1, "a", 1, "upsert"), (2, "b", 1, "upsert")], "b0")
    feed = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream_apply_changes(
        feed, table=table, checkpoint=ckpt, on=["k"]
    )
    q.awaitTermination(120)
    assert _rows(spark, table) == [(1, "a"), (2, "b")]

    # second availableNow run drains only the newly-landed file
    land([(1, "A2", 2, "upsert"), (2, "b", 2, "delete")], "b1")
    q2 = stream_apply_changes(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*"),
        table=table,
        checkpoint=ckpt,
        on=["k"],
    )
    q2.awaitTermination(120)
    assert _rows(spark, table) == [(1, "A2")]
