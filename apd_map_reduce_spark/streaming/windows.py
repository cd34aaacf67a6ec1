"""Structured Streaming analogue of the batch event queries
(SURVEY.md §7.3 v4 — the reference has no streaming; this is the
Spark-native extension over the `events` table).

Batch/stream parity: `hourly_event_counts` over a file stream with
trigger=availableNow must equal `queries/relational.py::events_hourly`
(modulo the watermark dropping nothing on replayed history). The test
suite asserts exactly that.

Scale posture: watermark bounds state; window+event_type keys the state
store; shuffle partitions size the state store parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from apd_map_reduce_spark.queries.base import money
from apd_map_reduce_spark.sources.tables import events_ts_micros


def events_stream_schema(spark: SparkSession, sample_parquet: str) -> StructType:
    """Streaming readers need an explicit schema — infer once from a
    batch footer read (cheap, driver-side). NTZ-micros parquet maps to
    TIMESTAMP_LTZ (same conf posture as sources/tables.py, so batch and
    stream agree on the event-time column type)."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark.read.parquet(sample_parquet).schema


def read_events_stream(
    spark: SparkSession, path: str, schema: StructType, max_files_per_trigger: int = 16
) -> DataFrame:
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return events_ts_micros(df)


def _hourly_counts(events: DataFrame, event_time: str = "ts") -> DataFrame:
    """Tumbling 1-hour windows per event_type. Declares no watermark:
    each caller declares its own once, upstream of every stateful
    operator, because Spark rejects a redefined watermark."""
    return (
        events.groupBy(F.window(event_time, "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(F.col("value").cast("decimal(18,6)"))).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type; late data beyond the
    watermark is dropped (state is bounded by watermark horizon)."""
    return _hourly_counts(events.withWatermark("ts", watermark))


def sliding_user_activity(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding windows (1h, slide 30m) of distinct-ish user activity:
    approx_count_distinct keeps state O(sketch) instead of O(users)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "approx_users",
            "n_events",
        )
    )
