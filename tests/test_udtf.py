"""UDTF surface: python generator output must match the JVM array path
(posexplode over tokenize_normalized) exactly, including SQL LATERAL."""

from __future__ import annotations

from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.udtf_surface import (
    TokenizePositions,
    register_udtfs,
)
from apd_map_reduce_spark.functions.text import tokenize_normalized


def _jvm_tokens(docs):
    return docs.select(
        "doc_id", F.posexplode(tokenize_normalized("text")).alias("pos0", "word")
    ).select("doc_id", "word", (F.col("pos0") + 1).cast("int").alias("pos"))


def test_udtf_matches_jvm_tokenizer(spark):
    docs = spark.createDataFrame(
        [
            (1, "The bright3 sun,  shines!"),
            (2, ""),
            (3, "  x  "),
            (4, "123 ... !!!"),  # normalizes to nothing
        ],
        "doc_id long, text string",
    )
    jvm = {(r.doc_id, r.word, r.pos) for r in _jvm_tokens(docs).collect()}
    via_udtf = {
        (r.doc_id, r.word, r.pos)
        for r in docs.lateralJoin(
            TokenizePositions(F.col("text").outer())
        ).select("doc_id", "word", "pos").collect()
    }
    assert via_udtf == jvm
    assert (1, "the", 1) in jvm and (1, "bright", 2) in jvm


def test_udtf_sql_lateral(spark):
    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "a 9b c")], "doc_id long, text string"
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, t.word, t.pos FROM udtf_docs d, "
        "LATERAL tokenize_positions(d.text) t"
    ).collect()
    assert {(r.word, r.pos) for r in rows} == {("a", 1), ("b", 2), ("c", 3)}
