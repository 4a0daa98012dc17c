"""Streaming daily aggregation — the batch spine as a streaming query.

The reference has no streaming surface (SURVEY.md §2.14), but its daily
aggregation *is* a tumbling 1-day event-time window. Expressing it as
``groupBy(window(ts, '1 day'))`` with a watermark preserves batch
semantics exactly while handling late data — the clean Structured
Streaming extension SURVEY §7.1 step 10 calls for.

Scale notes:
- watermark bounds state: day windows close once the watermark passes,
  so state size is O(open windows × groups), not O(history).
- ``update``/``append`` output modes both work; append emits a day only
  when its window closes (correct for downstream consumers that must
  never see partial days).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream with an explicit schema (streaming
    sources cannot infer)."""
    reader = spark.readStream.schema(EVENT_SCHEMA).format("json")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def daily_stream_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-day window aggregate matching the batch daily table.

    Same aggregates (and the same decimal-exact accumulation) as
    queries._daily, keyed by the window start date.
    """
    from etl_weather_spark.queries.relational import DAILY_AGGS

    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(*map(F.expr, DAILY_AGGS))
        .select(F.to_date(F.col("win.start")).alias("date"), "vmin", "vmax", "vsum", "vavg", "n")
    )


def run_available_now(agg: DataFrame, query_name: str = "daily_stream") -> list:
    """Drain everything currently available through a memory sink and
    return the rows (test/verification harness; production would write
    to a gold table with a real trigger)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = agg.sparkSession
    return spark.sql(f"SELECT * FROM {query_name}").collect()
