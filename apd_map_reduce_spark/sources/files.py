"""Generic file-format sources (engine-ification v1, SURVEY.md §7.3).

Thin, explicit-schema wrappers over `spark.read` — schema inference is
disabled by default for determinism (SURVEY.md §1.3: the reference's
schema is fixed and implicit; ours is fixed and EXPLICIT). Each reader
returns a plain DataFrame so Catalyst keeps pushdown/pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | str,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str | list[str], schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def read_parquet(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return spark.read.parquet(*path) if isinstance(path, list) else spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC source (built into Spark, no extra package): same columnar
    posture as parquet — predicate pushdown, column pruning, and
    min/max stripe skipping all apply; tests assert PushedFilters
    reaches the ORC scan exactly as it does the parquet scan."""
    return spark.read.orc(*path) if isinstance(path, list) else spark.read.orc(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal raw-bytes source: one row per file with (path,
    modificationTime, length, content BINARY) — the 100 TB posture for
    image/audio payloads (operators/multimodal.py consumes this)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def footer_stats(spark: SparkSession, path: str, col: str):
    """min/max/count of `col` computed ENTIRELY from parquet footer
    statistics — no row data is read. Uses Spark's parquet aggregate
    pushdown, which requires the v2 datasource path; both confs are
    scoped to this call and restored.

    At 100 TB this is the difference between a metadata operation
    (read N footers) and a full scan — use it for freshness checks,
    partition-bound discovery, and the scaling inputs of layout
    writers (sinks.write_zordered). Falls back transparently to a
    normal scan when a footer lacks statistics (Spark handles this);
    aggregate pushdown never changes results, only the access path.
    Returns Row(lo, hi, n_rows)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return (
            spark.read.parquet(path)
            .agg(
                F.min(col).alias("lo"),
                F.max(col).alias("hi"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()[0]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
