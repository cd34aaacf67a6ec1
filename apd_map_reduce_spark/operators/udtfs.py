"""Python UDTF surface (Spark 4) — table-function twin of the
JVM-expression chunker.

The engine's UDF coverage already spans scalar pandas UDFs
(behavior.py), grouped/map Arrow UDFs (multimodal.py), and stateful
streaming pandas (streaming/*). This module adds the remaining Spark-4
Python extension point: a user-defined TABLE function, applied
per-row via LATERAL join.

`chunk_documents_udtf` re-implements `curation.chunk_documents`
(doc → fixed-size training sequences) as a UDTF and is registered with
the SAME DuckDB oracle — so the UDTF path is hash-checked against the
exact semantics of the JVM-expression path, the same twin pattern as
`text_fingerprint_pandas_udf`.

Production guidance (measured, not assumed): at sf0.1 the two paths
are at parity — min-of-3 warm noop-sink 0.42 s (UDTF) vs 0.49 s (JVM
expression): the JVM chunker pays explode(sequence)+slice re-slicing
per chunk, the UDTF streams each doc's tokens once in Python, and at
this corpus shape the costs cancel. The JVM expression remains the
registered default for its codegen fusion with downstream stages and
zero Python-worker dependency; the UDTF is the plug-in shape for
chunkers that CANNOT be expressions (sentence segmenters, model
tokenizers with merges, format-aware splitters) — same output schema,
same LATERAL application, swap `eval`.

Tokenizer parity: the UDTF tokenizes with
`functions.text.tokenize_normalized_py`, the Python twin of the JVM
tokenizer (Java `\\s` whitespace class, not Python's unicode `\\s`).
"""

from __future__ import annotations

import hashlib
import itertools

from pyspark.sql import DataFrame
from pyspark.sql.functions import udtf

from apd_map_reduce_spark.functions.text import tokenize_normalized_py
from apd_map_reduce_spark.operators.curation import CHUNK_TOKENS, CHUNKS_ORACLE_SQL
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

CHUNKS_SCHEMA = (
    "doc_id BIGINT, chunk_idx BIGINT, n_chunk_tokens BIGINT, chunk_md5 STRING"
)


@udtf(returnType=CHUNKS_SCHEMA)
class ChunkDocuments:
    """LATERAL chunk_documents_udtf(doc_id, text) → one row per
    CHUNK_TOKENS-token training sequence (1-based chunk_idx, token
    count, md5 of the space-joined chunk)."""

    def eval(self, doc_id: int, text: str):
        if text is None:
            return
        ts = tokenize_normalized_py(text)
        for ci in range(0, len(ts), CHUNK_TOKENS):
            chunk = ts[ci : ci + CHUNK_TOKENS]
            yield (
                doc_id,
                ci // CHUNK_TOKENS + 1,
                len(chunk),
                hashlib.md5(" ".join(chunk).encode("utf-8")).hexdigest(),
            )


_VIEW_SEQ = itertools.count()


def chunk_documents_udtf(docs: DataFrame) -> DataFrame:
    """Apply the chunker UDTF per document (LATERAL join).

    The temp view gets a unique per-call name and is dropped once the
    statement is analyzed (spark.sql resolves eagerly, so the returned
    DataFrame's plan no longer references the name) — two lazy
    invocations over different inputs cannot clobber each other."""
    spark = docs.sparkSession
    spark.udtf.register("chunk_documents_udtf", ChunkDocuments)
    view = f"udtf_chunk_docs_{next(_VIEW_SEQ)}"
    docs.select("doc_id", "text").createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"SELECT c.* FROM {view} d, "
            "LATERAL chunk_documents_udtf(d.doc_id, d.text) c"
        )
    finally:
        spark.catalog.dropTempView(view)


# the UDTF is hash-checked against the JVM chunker's oracle — the ONE
# shared constant, so the twins cannot drift apart silently
UDTF_QUERIES = [
    QueryDef(
        "doc_chunk_sequences_udtf",
        lambda s, d: chunk_documents_udtf(load_table(s, d, "documents")),
        CHUNKS_ORACLE_SQL,
    ),
]
