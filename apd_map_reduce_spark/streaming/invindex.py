"""Incremental inverted index over a text-file stream (SURVEY.md §7.3
v5): the reference's flagship job maintained continuously as files
arrive — no stateful UDF, just a streaming `collect_set` aggregation
(Spark merges partial sets across micro-batches in the state store).

Stream-static join: the manifest (file_id ordinals, reference D1
contract) is a static broadcast side against the streaming scan —
supported natively, no state.

Scale posture: state is one row per distinct word (the index itself);
output mode `complete` re-emits the full index per trigger, which is
right for a SMALL index or a memory/console sink — at 100 TB you'd
flip to `update` + an idempotent key-value sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import tokenize_normalized
from apd_map_reduce_spark.plans.layout import explode_nonnull
from apd_map_reduce_spark.sources.manifest import _tag_file_ids, read_manifest


def stream_corpus(
    spark: SparkSession, corpus_dir: str, manifest_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming (file_id, line) source: text-file stream tagged with
    manifest ordinals via a stream-static broadcast join."""
    stream = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger).text(
        corpus_dir
    )
    return _tag_file_ids(stream, read_manifest(spark, manifest_path))


def incremental_inverted_index(corpus_stream: DataFrame) -> DataFrame:
    """Streaming DataFrame[word, file_ids, df] — semantics identical to
    operators/invindex.inverted_index, maintained per micro-batch."""
    words = explode_nonnull(
        corpus_stream, ["file_id"], tokenize_normalized("line"), "word"
    )
    return (
        words.groupBy("word")
        .agg(F.sort_array(F.collect_set("file_id")).alias("file_ids"))
        .withColumn("df", F.size("file_ids"))
    )
