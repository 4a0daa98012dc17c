"""Round-trip tests for the lakehouse layer (S7/K1/K2/M1/M2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.sources.lakehouse import (
    append_bronze,
    latest_view,
    materialize_if_absent,
    read_csv_tolerant,
    write_table,
)


def test_csv_roundtrip_with_bad_dates(spark, tmp_path):
    p = str(tmp_path / "csv")
    df = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("b", "not-a-date")], "name string, ts string"
    )
    write_table(df, p, fmt="csv")
    back = read_csv_tolerant(spark, p)
    rows = {r.name: r.ts for r in back.collect()}
    assert rows["a"] is not None and rows["b"] is None  # coerce, don't fail


def test_bronze_append_and_latest_view(spark, tmp_path):
    p = str(tmp_path / "bronze")
    v1 = spark.createDataFrame([("bandung", 25.0)], "city string, temp double")
    v2 = spark.createDataFrame([("bandung", 26.0)], "city string, temp double")
    append_bronze(v1, p, ingest_ts="2024-01-01 00:00:00")
    append_bronze(v2, p, ingest_ts="2024-01-02 00:00:00")

    allrows = spark.read.parquet(p)
    assert allrows.count() == 2  # history preserved (K1 timestamped files)
    latest = latest_view(allrows, key_cols=["city"]).collect()
    assert len(latest) == 1 and latest[0].temp == 26.0  # K1 'latest' alias


def test_materialize_if_absent(spark, tmp_path):
    p = str(tmp_path / "gold")
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1, "x")], "id long, v string")

    materialize_if_absent(spark, p, build)
    materialize_if_absent(spark, p, build)          # cached → no rebuild
    assert len(calls) == 1
    materialize_if_absent(spark, p, build, refresh=True)  # forced rebuild
    assert len(calls) == 2


def test_compact_table_merges_small_files(spark, tmp_path):
    from etl_weather_spark.sources.lakehouse import compact_table

    path = str(tmp_path / "frag")
    # simulate micro-batch append fragmentation: 40 files of 250 rows
    df = spark.range(10_000).withColumn("v", F.col("id") % 100)
    df.repartition(40).write.parquet(path)
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 40
    n = compact_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n == 1
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))


def test_compact_sort_within_tightens_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    from etl_weather_spark.sources.lakehouse import compact_table

    path = str(tmp_path / "clustered")
    # write shuffled data: every file sees the full id range
    df = spark.range(50_000).withColumn("k", F.xxhash64("id") % 1000)
    df.orderBy("k").repartition(20).write.parquet(path)
    compact_table(
        spark, path, target_file_bytes=64 * 1024 * 1024, sort_within_by=["id"]
    )
    import glob

    files = glob.glob(f"{path}/*.parquet")
    assert files
    # in-file sort => parquet min/max stats on id are tight and ordered,
    # so a selective id filter can skip row groups at scan time
    for f in files:
        md = pq.ParquetFile(f).metadata
        prev_max = None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id
            stats = col.statistics
            assert stats is not None and stats.has_min_max
            if prev_max is not None:
                assert stats.min >= prev_max
            prev_max = stats.max


def test_schema_evolution_merge_and_conform(spark, tmp_path):
    """Appends with a widened schema must stay readable: mergeSchema
    unions the columns, and old files surface the new column as null —
    the tolerant-ingestion stance (SURVEY §1.3) applied to the lake
    itself, not just JSON sources."""
    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, k string, v double"
    )
    v1.write.parquet(path)
    v2 = spark.createDataFrame(
        [(3, "c", 30.0, "extra")], "id long, k string, v double, note string"
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "k", "v", "note"}
    rows = {r.id: r.note for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "extra"}
    # plain read (no mergeSchema) keeps working on the original columns
    plain = spark.read.parquet(path).select("id", "k", "v")
    assert plain.count() == 3


def test_zorder_compact_tightens_both_columns(spark, tmp_path):
    """Z-order clustering must shrink per-file min/max spans on BOTH
    interleaved columns, where a plain sort only helps its leading
    column — the multi-predicate row-group-pruning story."""
    import glob

    import pyarrow.parquet as pq

    from etl_weather_spark.sources.lakehouse import compact_table

    def spans(path, col_names):
        out = {c: [] for c in col_names}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                for c in col_names:
                    st = md.row_group(rg).column(names.index(c)).statistics
                    out[c].append(st.max - st.min)
        return {c: sum(v) / len(v) for c, v in out.items()}

    # two independent uniform columns over [0, 100000)
    df = (
        spark.range(200_000)
        .select(
            (F.abs(F.xxhash64("id")) % 100_000).alias("a"),
            (F.abs(F.xxhash64("id", F.lit(7))) % 100_000).alias("b"),
        )
    )
    zpath = str(tmp_path / "zordered")
    spath = str(tmp_path / "sorted_a")
    df.write.parquet(zpath)
    nz = compact_table(
        spark, zpath, target_file_bytes=256 * 1024, zorder_by=["a", "b"]
    )
    # baseline: a global range-sort on `a` alone (the best single-column
    # clustering) — tight on a, but leaves b at full range per file
    df.repartitionByRange(nz, "a").sortWithinPartitions("a").write.parquet(spath)
    assert nz >= 6  # enough files for spans to be meaningful
    z = spans(zpath, ["a", "b"])
    s = spans(spath, ["a", "b"])
    domain = 100_000
    # z-order: both dimensions substantially tighter than full range
    assert z["a"] < 0.7 * domain and z["b"] < 0.7 * domain
    # plain sort: leading column tight, second column ~full range
    assert s["a"] < 0.2 * domain
    assert s["b"] > 0.9 * domain
    # and z-order's second column beats the plain sort's decisively
    assert z["b"] < 0.7 * s["b"]


def test_incremental_refresh_rebuilds_only_touched_partitions(spark, tmp_path):
    """Second batch touches day2+day3 only: gold must equal a full
    recompute, day1's files must be byte-identical (never rewritten),
    and the rebuild scan must prune to the touched partitions."""
    import glob
    import hashlib

    from etl_weather_spark.operators.pipeline import daily_from_hourly
    from etl_weather_spark.sources.lakehouse import incremental_refresh

    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")

    def hourly(rows):
        return spark.createDataFrame(
            rows, "city string, date date, temp double, rain double, pm25 double, pm10 double"
        )

    import datetime as dt

    d1, d2, d3 = dt.date(2025, 1, 1), dt.date(2025, 1, 2), dt.date(2025, 1, 3)
    b1 = hourly([("x", d1, 25.0, 0.0, 10.0, 20.0), ("x", d2, 26.0, 1.0, 30.0, 40.0)])
    aff = incremental_refresh(
        spark, b1, silver_path=silver, gold_path=gold,
        build_gold=daily_from_hourly,
    )
    assert sorted(aff) == [d1, d2]

    def file_hashes(day):
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(f"{gold}/date={day}/*.parquet")
        }

    day1_before = file_hashes(d1)
    b2 = hourly([("x", d2, 31.0, 0.5, 50.0, 60.0), ("x", d3, 24.0, 3.0, 70.0, 80.0)])
    aff = incremental_refresh(
        spark, b2, silver_path=silver, gold_path=gold,
        build_gold=daily_from_hourly,
    )
    assert sorted(aff) == [d2, d3]
    assert file_hashes(d1) == day1_before  # untouched partition untouched

    # partitioned read reorders columns (partition col lands last) —
    # normalize via asDict before comparing
    got = {frozenset(r.asDict().items()) for r in spark.read.parquet(gold).collect()}
    want = {
        frozenset(r.asDict().items())
        for r in daily_from_hourly(spark.read.parquet(silver)).collect()
    }
    assert got == want  # incremental == full recompute


def test_write_table_orc_roundtrip(spark, tmp_path):
    """K2 sink format breadth: ORC (native Spark source, no extra deps)
    round-trips schema + values, including partitioned layout."""
    from etl_weather_spark.sources.lakehouse import write_table

    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5)], "k string, n int, v double"
    )
    path = str(tmp_path / "orc_tbl")
    write_table(df, path, fmt="orc", partition_by=["k"])
    back = spark.read.orc(path)
    assert {tuple(r) for r in back.select("k", "n", "v").collect()} == {
        ("a", 1, 1.5), ("b", 2, 2.5)
    }
    # partition pruning works on the layout
    assert back.filter(F.col("k") == "a").count() == 1
