"""Sink registry (reference S4/S5 generalized — SURVEY.md §2.1).

The reference's one sink is the per-letter text file; `operators/
invindex.write_letter_files` reproduces that contract bit-exact. These
are the engine's general-purpose sinks: partitioned parquet/csv/text
with overwrite semantics (the reference's append-mode stale-file hazard
is deliberately not reproduced — SURVEY.md §5.2).

Scale: every sink keeps one writer task per partition; `single_file`
exists for small exports only and is documented as the anti-pattern at
100 TB (it coalesces to one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """zstd by default: ~25-40% smaller than snappy on text-heavy
    columns at similar scan speed — at 100 TB that is the difference
    that pays for itself on every scan."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    key: str,
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Range-clustered parquet layout: repartitionByRange(key) +
    sortWithinPartitions(key) before writing, so every output file
    covers a DISJOINT key range and rows inside each file are sorted.

    Why this matters at 100 TB: parquet stores per-row-group min/max
    statistics. On a randomly-laid-out table every row group spans the
    whole key domain and a selective key filter still reads everything;
    on this layout the same filter prunes to the handful of files whose
    range overlaps — the poor man's clustered index (same mechanism
    Z-ordering generalizes to multiple keys). Sampling inside
    repartitionByRange makes the range bounds; one extra shuffle buys
    pruning on every subsequent scan."""
    n = num_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    (
        df.repartitionByRange(int(n), key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def zorder_value(
    c1, c2, lo1: float, hi1: float, lo2: float, hi2: float, bits: int = 8
):
    """Interleaved-bit Z-value of two numeric columns, each min/max
    scaled to a `bits`-bit grid. Pure column expression (no UDF)."""
    from pyspark.sql import functions as F

    grid = (1 << bits) - 1
    span1 = max(hi1 - lo1, 1)
    span2 = max(hi2 - lo2, 1)
    q1 = F.floor((c1 - F.lit(lo1)) * F.lit(grid) / F.lit(span1)).cast("long")
    q2 = F.floor((c2 - F.lit(lo2)) * F.lit(grid) / F.lit(span2)).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(q1, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
            + (F.shiftright(q2, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    key1: str,
    key2: str,
    num_files: int,
    bits: int = 8,
    compression: str = "zstd",
) -> None:
    """Two-key locality layout: cluster files along the Z-order
    (Morton) curve of (key1, key2), so every output file covers a
    small rectangle of the 2-D key domain and parquet min/max stats
    prune scans filtered on EITHER key — what single-key range
    clustering (write_range_sorted) can only give one of them.

    Key domains come from one cheap min/max aggregation (two driver
    scalars, not data); the Z-value is a pure bit-interleave column
    expression, so the whole layout costs one range shuffle + local
    sort, identical to the single-key writer."""
    from pyspark.sql import functions as F

    lo1, hi1, lo2, hi2 = df.agg(
        F.min(key1), F.max(key1), F.min(key2), F.max(key2)
    ).collect()[0]
    z = zorder_value(
        F.col(key1), F.col(key2), float(lo1), float(hi1), float(lo2), float(hi2), bits
    ).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", str(header).lower()).csv(path)


def compact_parquet(
    spark,
    src: str,
    dest: str,
    target_file_mb: int = 128,
    compression: str = "zstd",
) -> tuple[int, int]:
    """Small-files compaction: rewrite `src` into `dest` with file
    count sized so each output is ~target_file_mb. Returns
    (n_files_before, n_files_after).

    The small-files problem is the slow death of a 100 TB table:
    per-file open/footer costs dominate scans, and driver-side file
    listings balloon. Streaming sinks and over-parallel writers create
    it; periodic compaction is the fix. Sizes come from the
    filesystem's own listing (works on any Hadoop-compatible FS, not
    just local); `dest` must differ from `src` — Spark cannot
    atomically overwrite its own input."""
    if src.rstrip("/") == dest.rstrip("/"):
        raise ValueError("dest must differ from src (cannot rewrite input in place)")
    df = spark.read.parquet(src)
    files = df.inputFiles()
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total_bytes = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        total_bytes += p.getFileSystem(hconf).getFileStatus(p).getLen()
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    (
        df.repartition(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(dest)
    )
    return len(files), n_out


def write_text(
    df: DataFrame,
    path: str,
    column: str = "value",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    cols = ([column] + partition_by) if partition_by else [column]
    w = df.select(*cols).write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.text(path)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    seed: str = "r4",
    mode: str = "overwrite",
) -> None:
    """Training-data delivery sink: JSONL shards with deterministic,
    reproducible document→shard assignment — the format LLM training
    loaders consume (one JSON object per line, Hive-style
    `shard=shard-%05d` directories that spark.read.json() re-discovers
    as a column).

    Shard = 60-bit prefix of a seeded md5 of the row's doc_id modulo
    n_shards (hash60 — the same family `training_shuffle_order` uses):
    re-running on the same corpus gives byte-identical shard
    membership regardless of parallelism, and a new seed is a full
    reshuffle. Each shard lands wholly in one partition (single-part
    shard files); writer parallelism is the number of OCCUPIED hash
    partitions — hashing n_shards keys into n_shards buckets collides
    (~63% occupancy in expectation, same phenomenon documented at
    invindex's letter sink), so effective parallelism is ~0.63 ×
    n_shards. At 100 TB raise n_shards, not file sizes.

    Rows are serialized with to_json over the full row struct; readers
    get every column back (spark.read.json(path) round-trips modulo
    JSON's type erasure — tests assert doc_id/text survive exactly).
    """
    from pyspark.sql import functions as F

    from apd_map_reduce_spark.functions.text import hash60

    seeded = F.concat_ws(":", F.lit("jsonl"), F.lit(seed), F.col("doc_id"))
    shard = (hash60(seeded) % n_shards).cast("int")
    out = df.withColumn(
        "shard", F.format_string("shard-%05d", shard)
    ).withColumn("value", F.to_json(F.struct(*df.columns)))
    (
        out.select("value", "shard")
        .repartition(n_shards, "shard")
        .write.mode(mode)
        .partitionBy("shard")
        .text(path)
    )
