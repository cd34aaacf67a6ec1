"""Streaming dedup: a replayed (duplicated) file stream collapses to the
batch-distinct row set."""

from __future__ import annotations

import os
import shutil

import pytest

from apd_map_reduce_spark.streaming.dedup import dedup_stream, dedup_stream_exact
from apd_map_reduce_spark.streaming.windows import events_stream_schema, read_events_stream

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duplicated_events_dir(tmp_path_factory):
    """Simulate an at-least-once source: the same parquet dropped twice."""
    d = tmp_path_factory.mktemp("events_dup")
    src = os.path.join(SF_SMOKE, "events.parquet")
    shutil.copy(src, d / "drop_a.parquet")
    shutil.copy(src, d / "drop_b.parquet")
    return str(d)


def _drain_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_watermark_dedup_collapses_replay(spark, duplicated_events_dir):
    schema = events_stream_schema(
        spark, os.path.join(duplicated_events_dir, "drop_a.parquet")
    )
    stream = read_events_stream(spark, duplicated_events_dir, schema)
    _drain_to_memory(dedup_stream(stream), "dedup_wm")
    got = spark.table("dedup_wm")
    n_batch = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).count()
    assert got.count() == n_batch
    # every event_id exactly once
    assert got.select("event_id").distinct().count() == n_batch


def test_exact_dedup_matches_watermark_dedup_on_bounded_replay(
    spark, duplicated_events_dir
):
    schema = events_stream_schema(
        spark, os.path.join(duplicated_events_dir, "drop_a.parquet")
    )
    stream = read_events_stream(spark, duplicated_events_dir, schema)
    _drain_to_memory(dedup_stream_exact(stream), "dedup_exact_stream")
    n_batch = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).count()
    assert spark.table("dedup_exact_stream").count() == n_batch


def test_dedup_then_hourly_chained_stateful_ops(spark, duplicated_events_dir):
    """Two stateful operators in one streaming query (append mode):
    replayed drops must NOT double the hourly counts, and every emitted
    window must match the batch rollup computed on the distinct rows."""
    from apd_map_reduce_spark.queries.relational import events_hourly
    from apd_map_reduce_spark.streaming.dedup import dedup_then_hourly

    schema = events_stream_schema(
        spark, os.path.join(duplicated_events_dir, "drop_a.parquet")
    )
    stream = read_events_stream(spark, duplicated_events_dir, schema)
    _drain_to_memory(dedup_then_hourly(stream), "dedup_hourly")
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("dedup_hourly").collect()
    }
    assert got, "append mode emitted no closed windows"
    expected = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in events_hourly(spark, SF_SMOKE).collect()
    }
    # append mode withholds windows the watermark has not passed; every
    # window that DID emit must match the batch rollup exactly.
    for key, val in got.items():
        assert expected[key] == val, f"window {key}: stream={val} batch={expected[key]}"
