"""Physical-layout helpers.

`spread` fixes the small-file serialization trap: a CPU-heavy per-row
stage (tokenize/shingle/hash) downstream of a tiny scan inherits the
scan's partition count — a 2 MB single parquet file means ONE task and
a 30x slowdown on a 32-core box (measured: 30.6s → 2.4s on the sf0.1
shingle stage). At 100 TB the scan already yields thousands of splits
(`spark.sql.files.maxPartitionBytes`), so the repartition is skipped —
the guard makes this safe to leave in production plans.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_nonnull(
    df: DataFrame, keep: list, expr: Column | str, alias: str
) -> DataFrame:
    """`select(*keep, explode(expr))` WITHOUT the
    InferFiltersFromGenerate trap.

    A plain `explode` makes the optimizer infer `size(expr) > 0` and
    predicate pushdown then drags that filter — with the generator's
    ENTIRE input expression substituted in — below the repartition
    exchange into the scan stage. For the CPU-bound text expressions
    (tokenize/shingle chains) that (a) re-evaluates the expensive
    expression twice per row and (b) on a small-file scan runs one
    copy in a SINGLE task, silently defeating `spread` (measured on
    text_boilerplate_spans at sf1: the "26 s" query is ~3 s of
    parallel work plus ~20+ s of this serialized filter).

    `explode_outer` is exempt from the inference (an outer generate
    filters nothing); the cheap `IS NOT NULL` filter above the
    generate then drops exactly the rows the inner explode would never
    have emitted (empty/NULL input arrays). Result-identical PROVIDED
    the array's elements are non-null by construction — true for every
    tokenizer/shingle/hash producer here; do not use it over arrays
    that legitimately contain NULL elements."""
    out = df.select(*keep, F.explode_outer(expr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


def posexplode_nonnull(
    df: DataFrame, keep: list, expr: Column | str, pos_alias: str, alias: str
) -> DataFrame:
    """posexplode twin of `explode_nonnull` (same trap, same contract)."""
    out = df.select(
        *keep, F.posexplode_outer(expr).alias(pos_alias, alias)
    )
    return out.filter(F.col(alias).isNotNull())


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently has fewer
    partitions than the cluster's default parallelism."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_BYTE_SHIFTS = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _parse_bytes(v: str) -> int:
    """Spark byte-conf string → bytes, in Spark's own grammar: an
    integer with an optional b, k/kb, m/mb, g/gb, t/tb or p/pb suffix
    ('128m', '512mb', '4194304b', '1g'); a bare integer is bytes."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", v.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark byte string: {v!r}")
    return int(m.group(1)) << _BYTE_SHIFTS[m.group(2)]


def scan_splits_estimate(
    spark, input_bytes: int, n_files: int, target: int
) -> int:
    """Driver-side estimate of the scan partition count Spark will plan
    for a file source of `input_bytes` over `n_files`, mirroring
    FilePartition.maxSplitBytes: each file is charged openCostInBytes,
    the split size is min(maxPartitionBytes, max(openCost,
    totalBytes/minPartitionNum)), and partitions ≈ total/splitSize.
    Exactness is NOT required — the guard's consumers sit orders of
    magnitude from the boundary (a one-row-group bench file estimates
    ~4 splits vs target 32; an 11 GB sf100 directory ~90) — but the
    formula keeps the estimate scale-correct instead of a constant."""
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    min_pn = int(spark.conf.get("spark.sql.files.minPartitionNum", str(target)))
    total = input_bytes + open_cost * max(n_files, 1)
    split = min(max_pb, max(open_cost, total // max(min_pn, 1)))
    return max(1, -(-total // max(split, 1)))


def spread_by(
    df: DataFrame,
    cols: list[str],
    target: int | None = None,
    input_bytes: int | None = None,
    input_files: int = 1,
) -> DataFrame:
    """Keyed twin of `spread` for CPU-bound PARTIAL AGGREGATION
    downstream of a low-split scan: hash-repartition on a deterministic
    synthetic key IFF the plan currently has fewer partitions than the
    cluster's default parallelism.

    Map-side (partial) aggregation parallelism is bounded by scan
    splits, and a parquet row group is the minimum split unit — a
    single-row-group file runs the whole partial agg in ONE task no
    matter how wide `maxPartitionBytes` allows the split to be. That is
    the same serialization trap `spread` fixes for tokenize/shingle
    stages, hitting aggregate-heavy scans instead (measured at sf0.1,
    min/median-of-7 interleaved, noop sink: q1's 4-way decimal partial
    agg 1.374/1.564 s serialized vs 0.979/1.195 s spread;
    snapshot_table_checksum's per-row md5 1.565/1.943 s vs
    0.595/0.711 s).

    Differences from `spread`, both deliberate:

    * **Hash, not round-robin.** Every keyless `repartition(n)` first
      pays a local sort of its input (sortBeforeRepartition, on by
      default since SPARK-23207, so retried tasks reproduce their
      row-to-partition assignment) — measured on q1 that sort erased
      most of the win (1.108 min but 1.483 median). Hash partitioning
      needs no such sort: the assignment is a pure row function.
    * **The key derives from `cols`**, deterministically, via
      xxhash64 — NOT from rand() (rows could duplicate or vanish on
      fetch-failure re-runs, SPARK-38388) and NOT from an otherwise
      unused physical column (which would widen the scan's ReadSchema
      and defeat column pruning; the plan-quality gates pin pruned
      schemas). Pass the columns the downstream aggregation already
      reads; duplicate rows hashing to the same partition is fine for
      aggregation inputs.

    At 100 TB the scan already yields ≥ cores splits and the guard
    skips the exchange entirely — safe to leave in production plans,
    exactly like `spread`.

    Guard probe (r13, ADVICE #4): when the caller passes
    `input_bytes` (+`input_files`) — the scan's file metadata, e.g.
    `sources.tables.table_input_size` — the split count is ESTIMATED
    driver-side from the same formula Spark's file-partition packing
    uses, and the `df.rdd.getNumPartitions()` probe (a full
    physical-planning pass per query construction, paid even at scales
    where the branch no-ops) is skipped entirely. Without it the probe
    fallback keeps the old behavior for callers that only have a
    DataFrame.

    Key-cardinality caveat (r12 ADVICE #2): xxhash64 over `cols` can
    only reach as many partitions as the key has distinct
    combinations — pass columns whose combined cardinality is >> the
    target (every current call site hashes high-cardinality
    measure/key columns, not just the grouping key)."""
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if input_bytes is not None:
        current = scan_splits_estimate(spark, input_bytes, input_files, target)
    else:
        current = df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target, F.xxhash64(*cols))
    return df
