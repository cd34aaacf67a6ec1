"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` single-JVM, but every config here is
chosen to also be the right default on a 1000-executor cluster:

  * AQE on (runtime partition coalescing + skew-join splitting — the
    reference's alphabet-range partitioning suffers 100x letter skew,
    SURVEY.md §6.3; AQE is the Spark-native mitigation).
  * Arrow on (pandas-UDF operators move data in columnar batches).
  * shuffle.partitions sized to cores locally; on a real cluster this
    is AQE-coalesced upward from `initialPartitionNum`.
  * ANSI off + UTC session timezone for deterministic oracle parity.
  * Generated-class cache of 500 entries (Spark's default is 100).
    One pass of the 13 headline queries at sf0.01 compiles 253-270
    distinct classes (289 over three passes); one clean snapshot
    compiles ~90. A plan's class count follows the plan, not the data,
    so at 100 the cache evicts classes before the next pass reuses
    them at every scale: each headline pass recompiled ~260, and a
    warm snapshot up to 46 of its ~105 (CHANGES.md has the sweep). The
    cache is per JVM, so on a cluster every executor compiles and
    caches its own copy too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "apd-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config.

    ``SPARK_GRAFT_AQE_WIDE_START=0`` opts out of the wide AQE
    ``initialPartitionNum``: the initial number is then exactly
    ``shuffle_partitions`` (for plan-SHAPE assertions, or when AQE is
    disabled via ``extra_conf``, leaving no coalescer to shrink a
    256-wide start). Correctness is unaffected either way
    (partition-invariance suite)."""
    aqe_wide_start = os.environ.get("SPARK_GRAFT_AQE_WIDE_START", "1") != "0"
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffles START wide and AQE coalesces them down — the
        # canonical AQE posture. AQE can split a skewed join but can
        # NEVER raise a too-small initial partition count, and with
        # shuffle.partitions pinned to core count every multi-GB
        # exchange at sf100 (SCALING_r11.json) was stuck at 32
        # partitions. With the wide initial number, AQE's
        # `parallelismFirst` coalescing keeps small-SF shuffles at
        # ~core-count parallelism (sf0.1 plans keep their shape —
        # oracle sweeps and the partition-invariance property suite
        # verified unchanged), while genuinely large sf100 exchanges
        # now run 128-256 balanced tasks (SCALING_r11_after.json).
        # NOT a spill cure-all: the LSH band self-join's quadratic
        # candidate tail still spills in its partial-distinct at sf100
        # (bounded ~2 GB/task) — that cost tracks the N² intermediate,
        # not partition width; see the SCALING_r11.json adjudication.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, 8 * shuffle_partitions))
            if aqe_wide_start
            else str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(NANOS) columns (e.g. events.ts) as raw
        # nanos longs; sources/tables.py converts to µs timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet isAdjustedToUTC=false (NTZ) micros columns as
        # TIMESTAMP_LTZ (same micros-since-epoch, UTC wall clock) — the
        # scan-level mapping, so filters on those columns still push
        # down; DuckDB reads the same files as naive TIMESTAMP, so the
        # rendered values agree engine-to-engine under the UTC session tz.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # Generated-class cache sized to the engine's plans (module doc).
        .config("spark.sql.codegen.cache.maxEntries", "500")
        # 100 TB posture: bound scan task size so a partition fits in
        # executor memory regardless of input file layout. Deployment
        # dial (guide §6 suggests 512m-1g for big sequential scans on
        # fast storage): SPARK_GRAFT_MAX_PARTITION_BYTES, default 128m.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # Deployment dial for the filtered-dimension broadcast boundary
        # (guide §3.1: size estimates are often wrong after filters —
        # Spark's size-only estimator does not shrink a filtered dim,
        # so a 27 MB-after-filter customer at sf100 plans as a 136 MB
        # relation and misses the broadcast). Raising the threshold at
        # deployment scale re-enables those broadcasts without a hint
        # that would force-broadcast a fact-growing table at 100 TB;
        # default = Spark's 10 MB (bench behavior unchanged).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AUTOBCAST", "10485760"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_caches(spark: SparkSession) -> int:
    """Drop every cached relation the session has accumulated.

    CACHE-LIFETIME CONVENTION (docs/PLANS.md "Cache lifetime"): query
    builders cache shared intermediates (shingle relations, tokenized
    docs, candidate sets) at MEMORY_AND_DISK and do NOT unpersist —
    a builder returns a lazy DataFrame, so there is no scope inside it
    where the cache is provably done being read. The session OWNER
    releases instead: the timing protocol calls
    ``spark.catalog.clearCache()`` after every run (scripts/timing.py),
    the CLI releases after each query, and long-lived sessions call
    this hook at pipeline boundaries.

    ``catalog.clearCache()`` drops the SQL relation cache (every
    DataFrame ``.cache()``/``.persist()``); the ``getPersistentRDDs``
    sweep then unpersists any RDD-level leftovers (streaming state
    helpers, direct rdd.persist calls) that the SQL cache doesn't
    track. Returns the number of RDDs still persisted AFTER the SQL
    cache clear (0 in the registry — a regression sentinel asserted by
    tests/test_cache_release.py)."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leftover = jmap.size()
    for jrdd in jmap.values():  # py4j MapConverter exposes a dict view
        jrdd.unpersist()
    return leftover
