"""Streaming integrity monitor: incremental order-insensitive table
checksum maintained across micro-batches (streaming twin of
operators/snapshot.table_checksum).

XOR's group structure is what makes this incremental: the running
fingerprint of everything ingested so far is
    checksum_new = checksum_old XOR bit_xor(batch row hashes)
so each micro-batch contributes one aggregated (n_rows, xor) pair and
the store holds exactly ONE row — no per-key state, no growth. After
any backfill/replay completes, the stored checksum can be compared to
`table_checksum` over the batch table — equal means the stream
delivered exactly the table, regardless of arrival order.

Executor-side per-batch aggregation; only the single (n, xor) row per
batch touches the driver (foreachBatch merging one row is O(1), not a
driver-side data path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import hash60


def _batch_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    rendered = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    h = hash60(F.concat_ws("|", *rendered))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"), F.bit_xor(h).alias("checksum")
    )


def checksum_stream_to_store(
    stream: DataFrame,
    cols: list[str],
    store_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Maintain a one-row (n_rows, checksum) parquet store over a
    stream. Returns the started StreamingQuery."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = _batch_checksum(batch_df, cols)
        if os.path.isdir(store_path):
            prev = spark.read.parquet(store_path)
            merged = prev.unionByName(batch).agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.bit_xor("checksum").alias("checksum"),
            )
        else:
            merged = batch
        # One-row result: rewrite the store atomically-enough for a
        # single-writer stream (the checkpoint serializes batches).
        merged.coalesce(1).write.mode("overwrite").parquet(store_path + "_next")
        next_df = spark.read.parquet(store_path + "_next")
        next_df.coalesce(1).write.mode("overwrite").parquet(store_path)

    writer = stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_checksum_store(spark: SparkSession, store_path: str) -> DataFrame:
    return spark.read.parquet(store_path)
