"""foreachBatch top-k upserts == batch ranking."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apd_map_reduce_spark.queries.relational import events_hourly
from apd_map_reduce_spark.streaming.topk import (
    TOP_K,
    streaming_topk_to_parquet,
    topk_from_store,
)
from apd_map_reduce_spark.streaming.windows import (
    events_stream_schema,
    read_events_stream,
)

from .conftest import SF_SMOKE


def _served_topk(spark, store) -> dict[str, list[tuple[str, int]]]:
    """hour -> [(event_type, n_events)] in rank order, as served."""
    got: dict[str, list[tuple[str, int]]] = {}
    for r in topk_from_store(spark, store).orderBy(
        "hour", F.desc("n_events"), "event_type"
    ).collect():
        got.setdefault(r.hour, []).append((r.event_type, r.n_events))
    return got


def test_streaming_topk_matches_batch(spark, tmp_path):
    d = str(tmp_path / "ev")
    os.makedirs(d)
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), os.path.join(d, "events.parquet"))
    stream = read_events_stream(
        spark, d, events_stream_schema(spark, os.path.join(d, "events.parquet"))
    )
    store = str(tmp_path / "store")
    q = streaming_topk_to_parquet(stream, store)
    q.awaitTermination()
    got = _served_topk(spark, store)
    assert got

    w = Window.partitionBy("hour").orderBy(F.desc("n_events"), F.asc("event_type"))
    batch = (
        events_hourly(spark, SF_SMOKE)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    )
    want: dict[str, list[tuple[str, int]]] = {}
    for r in batch:
        want.setdefault(r.hour, []).append((r.event_type, r.n_events))
    assert got == want


def test_streaming_topk_state_is_bounded_by_watermark(spark, tmp_path):
    """Update mode + watermark must EVICT old windows from Spark state:
    final-batch state rows < total distinct (window, event_type) pairs."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )

    def mk(hours, path):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        rows = [
            (base + dt.timedelta(hours=h, minutes=m), et, 1.0)
            for h in hours
            for m in (0, 30)
            for et in ("click", "view")
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    d = str(tmp_path / "ev")
    mk(range(0, 4), d + "/b1")  # hours 0-3
    mk(range(20, 24), d + "/b2")  # hours 20-23 → watermark passes hours 0-3
    import glob as g
    import shutil

    os.makedirs(d + "/in")
    for i, src in enumerate(sorted(g.glob(d + "/b*/part-*.parquet"))):
        dst = os.path.join(d, "in", f"batch{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    stream = read_events_stream(spark, d + "/in", schema, max_files_per_trigger=1)
    store = str(tmp_path / "store")
    q = streaming_topk_to_parquet(stream, store, watermark="2 hours")
    q.awaitTermination()

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progresses) >= 2, "expected one micro-batch per file"
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    total_pairs = 8 * 2  # 8 distinct hours x 2 event types overall
    assert final_state_rows < total_pairs, (
        f"state not evicted: {final_state_rows} rows >= {total_pairs} total pairs"
    )

    # Serving store still has every window's top-k (it is the sink, not state)
    got = _served_topk(spark, store)
    assert len(got) == 8
    assert all(v == [("click", 2), ("view", 2)] for v in got.values())


def test_streaming_topk_parquet_merge_sink_matches_batch(spark, tmp_path):
    """The production-shaped sink (foreachBatch MERGE into a
    hour-partitioned parquet store) must serve the same top-k as the
    batch ranking, across multiple micro-batches (so the MERGE path
    that reads+rewrites affected partitions actually executes)."""
    from apd_map_reduce_spark.sources.tables import load_table

    # Split the events into two time-ordered files → two micro-batches,
    # so the second batch exercises the read-affected-partitions MERGE
    # path (not just the first-batch bootstrap branch).
    ev = load_table(spark, SF_SMOKE, "events").orderBy("ts", "event_id").cache()
    n = ev.count()
    d = str(tmp_path / "ev")
    ev.limit(n // 2).coalesce(1).write.parquet(d + "/h1")
    ev.subtract(ev.limit(n // 2)).coalesce(1).write.parquet(d + "/h2")
    import glob as g

    os.makedirs(d + "/in")
    for i, src in enumerate(sorted(g.glob(d + "/h*/part-*.parquet"))):
        dst = os.path.join(d, "in", f"batch{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
    ev.unpersist()

    store = str(tmp_path / "store")
    stream = read_events_stream(
        spark, d + "/in", events_stream_schema(spark, d + "/in/batch0.parquet"),
        max_files_per_trigger=1,
    )
    q = streaming_topk_to_parquet(stream, store)
    q.awaitTermination()

    got = {
        (r.hour, r.event_type, r.n_events)
        for r in topk_from_store(spark, store).collect()
    }
    w = Window.partitionBy("hour").orderBy(F.desc("n_events"), F.asc("event_type"))
    want = {
        (r.hour, r.event_type, r.n_events)
        for r in events_hourly(spark, SF_SMOKE)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }
    assert got == want
