"""Streaming top-k via foreachBatch upsert (update-mode ranking).

Window aggregations stream natively, but a RANKING over them does not
(no windowed row_number in update mode) — the standard pattern is:
aggregate in the stream, then upsert the per-(window, event_type)
counts into a serving store inside ``foreachBatch`` and re-rank the
affected windows there.

Output mode is ``update``: each micro-batch emits only the (window,
event_type) rows whose count changed, and the declared watermark
actually evicts expired windows from Spark state (in ``complete`` mode
it would not — state and per-batch output would grow with total window
count forever). The serving store keeps raw counts per window so it
can re-rank from changed rows alone.

One sink: `streaming_topk_to_parquet` — foreachBatch MERGEs changed
rows into a parquet store partitioned by hour
(read-affected-partitions → anti-join → union → dynamic partition
overwrite rewrites only those partitions, executor-side, no driver
materialization); `topk_from_store` is the serving query. On a
Delta/Iceberg table the same callback is a one-statement MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from apd_map_reduce_spark.streaming.windows import _hourly_counts

TOP_K = 3


def parquet_merge_sink(store_path: str):
    """foreachBatch callback that MERGEs changed (hour, event_type,
    n_events) rows into a parquet store partitioned by hour.

    MERGE via dynamic partition overwrite: keep the affected hours'
    rows that the batch did NOT change (anti-join), union the batch
    rows, rewrite ONLY those hour partitions (untouched hours' files
    are left in place). Everything runs executor-side; the
    localCheckpoint materializes the merged rows BEFORE the overwrite
    deletes the files they were read from. Sets
    partitionOverwriteMode=dynamic on the session (session-wide, like
    any sink that needs it)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df is read three times below; materialize it once so the
        # stateful aggregation behind it runs once per micro-batch.
        batch_df = batch_df.localCheckpoint()
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # Partition-column type inference reads `hour` back as a
            # timestamp; normalize to the canonical string so joins and
            # the union against the batch rows stay type-stable.
            existing = spark.read.parquet(store_path).withColumn(
                "hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss")
            )
            keep = existing.join(
                batch_df.select("hour").distinct(), "hour", "left_semi"
            ).join(batch_df.select("hour", "event_type"), ["hour", "event_type"], "left_anti")
            merged = keep.unionByName(batch_df).localCheckpoint()
        except AnalysisException:  # first batch: store doesn't exist yet
            merged = batch_df
        merged.write.mode("overwrite").partitionBy("hour").parquet(store_path)

    return _merge


def topk_from_store(spark: SparkSession, store_path: str, k: int = TOP_K) -> DataFrame:
    """Serving query over the parquet store: per-hour top-k event types
    (partition-local window, prunes to requested hours if filtered)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("hour").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        spark.read.parquet(store_path)
        .withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def streaming_topk_to_parquet(
    events: DataFrame, store_path: str, watermark: str = "2 hours"
):
    """MERGE the changed per-hour event_type counts into a parquet store
    partitioned by hour; serve with `topk_from_store`. Returns a
    started StreamingQuery; caller awaits termination."""
    counts = _hourly_counts(events.withWatermark("ts", watermark))
    return (
        counts.select("hour", "event_type", "n_events")
        .writeStream.foreachBatch(parquet_merge_sink(store_path))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
