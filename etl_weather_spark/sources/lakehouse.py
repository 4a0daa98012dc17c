"""Lakehouse layout: tolerant readers, partitioned sinks, latest-aliasing,
compute-if-absent materialization.

Reference parity:
- S7 CSV scan with date parsing + tolerant fallback (web.py:25-34,
  report.py:78, viz.py:13-19)
- K1 timestamped + "latest" alias sink (fetch.py:40-43,100-105,129-132)
  → append with ``ingest_ts`` column + a max-ts view, which is how the
  pattern scales: no file renames, just partition pruning on ingest_ts
- K2 CSV sink (transform.py:112-115) → header CSV for compat, Parquet
  partitioned by city/date as the real format
- M1 compute-if-absent with refresh (web.py:344-363) → materialized
  gold path, rebuilt on demand
- M2 "latest" pointer (fetch.py:104-105) → row_number over ingest_ts
  desc = 1 per key

Scale notes: bronze appends partition by (city, ingest_date) so the
latest-view's window only scans the newest partitions after pruning;
gold tables partition by date so serving queries prune to the requested
range.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

UPSERT_QUERY_NAME = "gold_upsert"


def read_csv_tolerant(spark: SparkSession, path: str) -> DataFrame:
    """CSV read with header + PERMISSIVE mode; a ``ts`` column parses
    null-on-error (the reference's read_csv(parse_dates=...) with
    fallback, web.py:25-34)."""
    df = spark.read.option("header", "true").option("mode", "PERMISSIVE").csv(path)
    if "ts" in df.columns:
        df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


def write_table(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned table sink (K2; Parquet preferred, CSV for compat)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def append_bronze(df: DataFrame, path: str, *, ingest_ts: str | None = None) -> None:
    """Bronze append, partitioned by ``city``, with an ingest timestamp
    column (K1 without file renames: every fetch is an append; 'latest'
    is a view, not a file)."""
    stamped = df.withColumn(
        "ingest_ts",
        F.lit(ingest_ts).cast("timestamp") if ingest_ts else F.current_timestamp(),
    )
    write_table(stamped, path, partition_by=["city"], mode="append")


def latest_view(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """M2: one row per key — the one with the greatest ingest_ts.

    row_number over (key, ts desc); at scale the window shuffles only
    (key, ts) plus payload of the surviving partitions after pruning.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col("ingest_ts").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def materialize_if_absent(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    *,
    refresh: bool = False,
) -> DataFrame:
    """M1: reuse the materialized table unless missing or refresh=True
    (reference _ensure_daily/_ensure_hourly, web.py:344-363)."""
    exists = os.path.isdir(path) and any(
        name.startswith(("part-", "_SUCCESS")) or name.endswith(".parquet")
        for root, _, files in os.walk(path) for name in files
    )
    if refresh or not exists:
        write_table(build(), path)
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    *,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Write a bucketed (and bucket-sorted) parquet table, 4 buckets, for
    co-located joins.

    Both sides of a recurring large join written with the SAME
    (bucket_cols, 4 buckets) sort-merge join with ZERO exchanges — the
    shuffle is paid once at write time instead of on every query. This
    is the 100 TB answer for fact-fact joins on a stable key
    (orders↔lineitem on orderkey): bucket both at ingestion.

    Bucketing requires the table catalog (``saveAsTable``); ``path``
    makes it an external table so the data lands in the lakehouse
    layout rather than the default warehouse.
    """
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(4, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def stream_upsert_latest(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint: str,
):
    """Materialize a stream into a keyed gold table via foreachBatch:
    append each micro-batch, serve through :func:`latest_view`.

    Append + latest-view is the upsert pattern that scales without a
    MERGE-capable table format: writes are blind appends (no read-
    modify-write contention across 1000 executors), and the view's
    row_number-over-ingest_ts prunes to the newest row per key at read
    time. The keys and the timestamp column are the reader's, passed to
    :func:`latest_view`; the write needs neither. Compact periodically
    by rewriting the view output.
    """
    from etl_weather_spark.streaming._state import start_batches

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    return start_batches(stream_df, checkpoint, upsert, name=UPSERT_QUERY_NAME)


def zorder_key(df: DataFrame, cols: list[str]) -> "F.Column":
    """Z-order (Morton) key over numeric columns: each column is
    bucketed into 2^8 equi-width bins (bounds from one min/max
    aggregate pass), then the bucket bits are interleaved so rows close
    in the key are close in EVERY dimension — sorting by it gives
    parquet tight row-group min/max stats on all ``cols`` at once,
    where a plain sort only tightens its leading column.

    All pure Column arithmetic (width_bucket, shifts, masks) — JVM
    codegen, no UDF. Equi-width bins assume roughly uniform columns;
    for skewed ones substitute ``approxQuantile`` boundaries for the
    min/max (rank-based bucketing is what Delta's OPTIMIZE ZORDER
    does). Nulls land in bucket 0.
    """
    n = 1 << 8
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    stats = df.agg(*aggs).collect()[0]
    k = len(cols)
    buckets = []
    for c in cols:
        lo = float(stats[f"min_{c}"])
        hi = float(stats[f"max_{c}"])
        if hi <= lo:
            hi = lo + 1.0
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n)
        ) - 1
        b = F.least(F.lit(n - 1), F.greatest(F.lit(0), b)).cast("long")
        buckets.append(F.coalesce(b, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for bit in range(8):
        for ci in range(k):
            z = z + F.shiftleft(
                F.shiftright(buckets[ci], bit).bitwiseAND(F.lit(1)),
                bit * k + ci,
            )
    return z


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet table into ~``target_file_bytes`` files,
    optionally re-clustered. Returns the file count written.

    The small-files problem is the silent killer of streaming/append
    lakehouses: a 100 TB table appended in 10k-row micro-batches becomes
    millions of kilobyte files, and every downstream scan pays a task +
    footer read per file. Compaction = read → repartition to
    ceil(bytes/target) → atomic swap-by-overwrite.

    ``sort_within_by`` additionally sorts rows INSIDE each output file
    (sortWithinPartitions — no global shuffle beyond the repartition):
    parquet then stores tight min/max stats per row group on those
    columns, so selective filters skip whole row groups at scan time —
    the poor-man's Z-order, and the right clustering when one column
    dominates predicates.

    ``zorder_by`` instead clusters on the interleaved-bit
    :func:`zorder_key` over several columns and range-partitions the
    output by it — every listed column then prunes row groups, the
    right layout when predicates hit different columns query to query.
    """
    import math
    import shutil

    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    if zorder_by:
        out = (
            df.withColumn("__z", zorder_key(df, zorder_by))
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        out = df.repartition(n_files)
    if sort_within_by and not zorder_by:
        out = out.sortWithinPartitions(*sort_within_by)
    # stage next to the table, then swap by directory rename — plain
    # parquet has no transaction log, so the swap is the commit point
    # (Delta/Iceberg would commit a new snapshot instead)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    out.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)
    return sum(
        1
        for dp, _, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    )


def incremental_refresh(
    spark: SparkSession,
    batch: DataFrame,
    *,
    silver_path: str,
    gold_path: str,
    build_gold: Callable[[DataFrame], DataFrame],
) -> list:
    """M1 at scale: land ``batch`` in silver, then rebuild ONLY the gold
    partitions the batch touched — never the whole table.

    The reference's refresh (web.py:344-363) recomputes everything per
    request; at 100 TB a day's append must not re-aggregate years of
    history. Steps: (1) append the batch to silver partitioned by
    ``date``; (2) collect the batch's distinct partition
    values (tiny — one value per touched day); (3) re-run
    ``build_gold`` over silver *filtered to those partitions* (the
    filter is on the partition column, so the scan prunes to the
    touched directories); (4) write with dynamic partition overwrite,
    which replaces exactly the partitions present in the output and
    leaves every other gold partition's files untouched.

    Plain-parquet caveat: the swap is per-partition-directory, not one
    atomic commit across partitions — a transactional table format
    (snapshots.py here; Delta/Iceberg MERGE in production) is the
    upgrade when readers race refreshes. Returns the affected
    partition values.
    """
    batch.write.mode("append").partitionBy("date").parquet(silver_path)
    affected = [r[0] for r in batch.select("date").distinct().collect()]
    silver = spark.read.parquet(silver_path).filter(
        F.col("date").isin(affected)
    )
    (
        build_gold(silver)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(gold_path)
    )
    return affected
