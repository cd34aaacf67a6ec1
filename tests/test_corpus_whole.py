"""Compressed parquet sink: zstd output is smaller than uncompressed."""

from __future__ import annotations

import os


def test_zstd_sink_smaller_than_uncompressed(spark, tmp_path):
    from apd_map_reduce_spark.sinks import write_parquet
    from apd_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    z = str(tmp_path / "zstd")
    u = str(tmp_path / "uncompressed")
    write_parquet(docs, z)  # zstd default
    write_parquet(docs, u, compression="uncompressed")

    def size(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert size(z) < size(u)
