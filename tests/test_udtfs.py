"""UDTF chunker twin: token-for-token parity with the JVM-expression
path, including the Java-vs-Python whitespace-class trap."""

from __future__ import annotations

from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    tokenize_normalized,
    tokenize_normalized_py,
)
from apd_map_reduce_spark.functions.udtf_surface import TokenizePositions
from apd_map_reduce_spark.operators.behavior import fingerprint_pandas
from apd_map_reduce_spark.operators.curation import chunk_documents
from apd_map_reduce_spark.operators.textstats import doc_fingerprint
from apd_map_reduce_spark.operators.udtfs import chunk_documents_udtf
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_udtf_matches_jvm_chunker(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, chunk_documents_udtf(docs).collect()))
    b = sorted(map(tuple, chunk_documents(docs).collect()))
    assert a == b and len(a) > 0


def test_python_tokenizer_matches_jvm_on_edge_cases(spark):
    texts = [
        "Hello,  world!\tx2\n",
        "",
        "   ",
        "a b",  # unicode NBSP: Java \\s does NOT split — one token "ab"
        "ümlaut café 12three",
        "CRLF\r\nline",
        "tab\tsep\x0bvtab\fff",
        "x\x1cy",  # Python \\s splits on \x1c, Java \\s does not: "xy"
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i LONG, text STRING")
    jvm = {
        r.i: list(r.ts)
        for r in df.select("i", tokenize_normalized("text").alias("ts")).collect()
    }
    for i, t in enumerate(texts):
        assert tokenize_normalized_py(t) == jvm[i], f"text {t!r}"
    assert tokenize_normalized_py("a b") == ["ab"]

    # the two Python-worker twins built on it: the positional UDTF and
    # the pandas fingerprint
    udtf = {i: [] for i in range(len(texts))}
    for r in (
        df.lateralJoin(TokenizePositions(F.col("text").outer()))
        .orderBy("i", "pos")
        .collect()
    ):
        udtf[r.i].append(r.word)
    assert udtf == jvm
    docs = df.withColumnRenamed("i", "doc_id")
    assert sorted(map(tuple, fingerprint_pandas(docs).collect())) == sorted(
        map(tuple, doc_fingerprint(docs).collect())
    )
