"""spread_by (plans/layout.py): the keyed serialization-trap fix for
CPU-bound partial aggregation over low-split scans.

Three contracts:
  * guard — repartitions a below-parallelism plan, no-ops an
    at-parallelism one (so it is dead weight, not a new exchange, at
    100 TB scan widths);
  * determinism — the synthetic key is a pure row function (xxhash64
    of named columns), so two evaluations partition identically
    (the SPARK-38388 retry hazard class that rand()-derived keys hit);
  * result transparency — the spread q1 / table_checksum entries are
    value-identical to their unspread formulations (aggregation is
    order- and partitioning-insensitive for these exact-decimal /
    XOR-merge aggregates).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apd_map_reduce_spark.plans.layout import spread_by

from .conftest import SF_SMOKE


def test_spread_by_guard_and_noop(spark):
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    one = base.coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    spread = spread_by(one, ["id", "v"])
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    wide = base.repartition(spark.sparkContext.defaultParallelism + 2)
    assert spread_by(wide, ["id", "v"]) is wide, "at-parallelism input must no-op"


def test_spread_by_deterministic_assignment(spark):
    base = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 13 % 101).alias("v")
    ).coalesce(1)
    a = spread_by(base, ["id", "v"]).select(
        "id", F.spark_partition_id().alias("p")
    ).collect()
    b = spread_by(base, ["id", "v"]).select(
        "id", F.spark_partition_id().alias("p")
    ).collect()
    assert sorted((r.id, r.p) for r in a) == sorted((r.id, r.p) for r in b)


def test_spread_q1_and_checksum_result_transparent(spark):
    from apd_map_reduce_spark.operators.snapshot import (
        _LINEITEM_CK_COLS,
        table_checksum,
    )
    from apd_map_reduce_spark.queries.relational import q1_pricing_summary
    from apd_map_reduce_spark.sources.tables import load_table

    l = load_table(spark, SF_SMOKE, "lineitem")
    # Unspread twin of table_checksum's aggregate, built inline.
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
        for c in _LINEITEM_CK_COLS
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *rendered)), 1, 15), 16, 10
    ).cast("long")
    plain = l.coalesce(1).agg(
        F.count(F.lit(1)).alias("n_rows"), F.bit_xor(h).alias("checksum")
    )
    assert table_checksum(l, _LINEITEM_CK_COLS).collect() == plain.collect()

    # q1 vs an UNSPREAD twin built inline (r12 ADVICE: self-equality
    # would also pass for a deterministic-but-wrong spread; value
    # equality against the unspread formulation is the real contract).
    from apd_map_reduce_spark.queries.base import as_double, dec2, dec6, money
    from apd_map_reduce_spark.queries.relational import _Q1_COLS

    disc = dec6(F.lit(1.0) - F.col("l_discount"))
    tax = dec6(F.lit(1.0) + F.col("l_tax"))
    plain_q1 = (
        l.filter(
            F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp")
        )
        .select(*_Q1_COLS)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(dec2("l_quantity"))).alias("sum_qty"),
            as_double(F.sum(dec2("l_extendedprice"))).alias("sum_base_price"),
            money(F.sum(dec2("l_extendedprice") * disc)).alias("sum_disc_price"),
            money(F.sum(dec2("l_extendedprice") * (disc * tax))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    ).collect()
    rows = q1_pricing_summary(spark, SF_SMOKE).orderBy(
        "l_returnflag", "l_linestatus"
    ).collect()
    assert rows == plain_q1 and len(rows) > 0


def test_scan_splits_estimate_matches_probe_decision(spark):
    """The metadata-derived guard must make the SAME spread/no-op
    decision as the planning probe at the shipped fixture widths, and
    produce the same plan shape."""
    from apd_map_reduce_spark.plans.layout import scan_splits_estimate
    from apd_map_reduce_spark.sources.tables import load_table, table_input_size

    target = spark.sparkContext.defaultParallelism
    size = table_input_size(SF_SMOKE, "lineitem")
    assert size is not None and size[0] > 0
    est = scan_splits_estimate(spark, size[0], size[1], target)
    df = load_table(spark, SF_SMOKE, "lineitem")
    probe = df.rdd.getNumPartitions()
    assert (est < target) == (probe < target)

    # plan shape identical whether the guard used metadata or the probe
    cols = ["l_orderkey", "l_quantity"]
    via_meta = spread_by(
        df.select(*cols), cols, input_bytes=size[0], input_files=size[1]
    )
    via_probe = spread_by(df.select(*cols), cols)
    p_meta = via_meta._jdf.queryExecution().analyzed().toString()
    p_probe = via_probe._jdf.queryExecution().analyzed().toString()
    assert ("xxhash64" in p_meta) == ("xxhash64" in p_probe)

    # scale-correct: an 11 GB / 100-file input estimates >= target
    # splits, so the guard no-ops without any planning pass
    assert scan_splits_estimate(spark, 11 << 30, 100, target) >= target


@pytest.mark.parametrize(
    "text, expected",
    [
        ("128m", 128 << 20),
        ("128mb", 128 << 20),
        ("512MB", 512 << 20),
        ("1g", 1 << 30),
        ("1gb", 1 << 30),
        ("4194304b", 4194304),
        ("4194304", 4194304),
        ("64k", 64 << 10),
        ("64kb", 64 << 10),
        ("2t", 2 << 40),
        ("2tb", 2 << 40),
        ("1p", 1 << 50),
        ("1pb", 1 << 50),
    ],
)
def test_parse_bytes_accepts_spark_byte_grammar(text, expected):
    """Every suffix Spark's byte-conf parser accepts (single letter or
    two-letter `*b` form, or none) — a `SPARK_GRAFT_MAX_PARTITION_BYTES`
    of `512mb` must not raise during query construction."""
    from apd_map_reduce_spark.plans.layout import _parse_bytes

    assert _parse_bytes(text) == expected


@pytest.mark.parametrize("text", ["", "mb", "1.5g", "12q", "-1m"])
def test_parse_bytes_rejects_non_byte_strings(text):
    from apd_map_reduce_spark.plans.layout import _parse_bytes

    with pytest.raises(ValueError):
        _parse_bytes(text)


def test_table_input_size_walks_partitioned_directories(spark, tmp_path):
    """A `partitionBy` write holds its parquet files only in
    `key=value/` subdirectories; the size walk must recurse into them
    and skip `_`/`.` entries (_SUCCESS, .crc) at every level."""
    import os

    from apd_map_reduce_spark.sources.tables import table_input_size

    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    df.write.partitionBy("part").parquet(str(tmp_path / "t.parquet"))

    data = []
    for root, dirs, files in os.walk(tmp_path / "t.parquet"):
        data += [
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        ]
    assert len(data) >= 3, "fixture must spread files over partition dirs"
    assert table_input_size(str(tmp_path), "t") == (sum(data), len(data))
