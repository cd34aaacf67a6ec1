"""Corpus queries over the `documents` table — the reference's flagship
inverted-index job (SURVEY.md §0) retargeted at the driver's synthetic
corpus, plus the classic word-count.

doc_ids is emitted as a space-joined STRING (not array) so the value
hash is representation-independent across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import TOKENS_SQL
from apd_map_reduce_spark.operators.invindex import inverted_index, words
from apd_map_reduce_spark.plans.layout import spread
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

# spread() at THESE call sites, not inside words(): the parquet corpus
# is one row group per file, so the tokenize+explode otherwise runs
# serialized inside the scan stage (the r9 unspread-text-CPU class —
# A/B min-of-3: invindex sf1 2.28 s direct vs 0.72 s spread, sf10
# 24.96 vs 4.12; wordcount sf10 17.57 vs 2.45; sf0.1 costs ≤0.1 s).
# The reference CLI path keeps words() direct: its 355-file text scan
# already has ≥ cores splits, where the measured tradeoff favors no
# extra exchange (invindex.py:words docstring).


def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    idx = inverted_index(docs, id_col="doc_id", text_col="text")
    return idx.select(
        "word",
        F.array_join("file_ids", " ").alias("doc_ids"),
        # long: DuckDB COUNT(DISTINCT) is BIGINT; keep schemas identical
        F.col("df").cast("long").alias("df"),
    )


INVINDEX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({TOKENS_SQL}) AS word
  FROM documents
)
SELECT word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids,
       COUNT(DISTINCT doc_id) AS df
FROM toks
GROUP BY word
"""


def corpus_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        words(docs, id_col="doc_id", text_col="text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


WORD_COUNT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({TOKENS_SQL}) AS word
  FROM documents
)
SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
"""


CORPUS_QUERIES = [
    QueryDef("corpus_inverted_index", corpus_inverted_index, INVINDEX_ORACLE, headline=True),
    QueryDef("corpus_word_count", corpus_word_count, WORD_COUNT_ORACLE, headline=True),
]
