"""Streaming deduplication for ingest pipelines (SURVEY.md §7.3 v4).

The reference has no streaming (SURVEY.md §2.6); this is the
Spark-native extension a training-data ingest needs: at-least-once
sources (Kafka replays, file re-drops) deliver duplicate records, and
the sink must see each key once.

Two semantics, both stock Structured Streaming:

* ``dedup_stream`` — exact-key dedup with *bounded state*:
  ``dropDuplicatesWithinWatermark`` keeps a key in the state store only
  until the watermark passes it, so state is O(keys per watermark
  horizon), not O(all keys ever). This is the only formulation that
  survives an unbounded stream — a plain ``dropDuplicates`` on a stream
  accumulates state forever.
* ``dedup_stream_exact`` — global dedup (``dropDuplicates``) for
  bounded replays (availableNow backfills) where the full key set fits
  in the state store and cross-batch exactness matters more than state
  size.

Scale posture: the dedup key partitions the state store, so a
high-cardinality unique key (event_id) spreads evenly across the
``spark.sql.shuffle.partitions`` state partitions; no skew possible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from apd_map_reduce_spark.streaming.windows import _hourly_counts


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    event_time: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Drop duplicate ``keys`` arriving within the watermark horizon.

    State for a key is evicted once the watermark moves past its event
    time; a duplicate arriving later than ``watermark`` after the
    original would be re-emitted (the documented trade-off for bounded
    state on an unbounded stream).
    """
    return events.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_stream_exact(
    events: DataFrame, keys: Sequence[str] = ("event_id",)
) -> DataFrame:
    """Global streaming dedup — state grows with distinct keys; use only
    for bounded backfills."""
    return events.dropDuplicates(list(keys))


def dedup_then_hourly(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    event_time: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Chain TWO stateful operators in one streaming query: watermarked
    dedup feeding the tumbling-window hourly aggregation — the canonical
    exactly-once ingest rollup (replays collapse BEFORE they can double
    the counts). Multiple stateful operators in one query require append
    output mode, so a window emits only once the watermark passes its
    end; the still-open tail windows stay in state across restarts.

    The watermark is declared ONCE, upstream of both operators —
    re-declaring it between stateful operators raises Spark's
    "redefining watermark is disallowed" (the second declaration would
    let the window agg see a different lateness horizon than the dedup
    state it consumes)."""
    deduped = dedup_stream(events, keys=keys, event_time=event_time, watermark=watermark)
    return _hourly_counts(deduped, event_time)
