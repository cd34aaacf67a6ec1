from __future__ import annotations

import os

import pytest

from apd_map_reduce_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # A 4g heap instead of get_spark's 8g default: the fixtures are
    # sf0.001/sf0.01, and under 8g the session JVM grew to 6.5 GB
    # resident, enough to be OOM-killed beside other Spark JVMs.
    spark = get_spark(
        app_name="apd-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def small_corpus_dir(tmp_path_factory):
    """The canonical 3-file fixture (FIXTURES.md F4)."""
    d = tmp_path_factory.mktemp("corpus_small")
    files = {
        "file1.txt": "The bright sun shines in the blue sky as birds are singing today.",
        "file2.txt": "This calm morning, the sky is blue, and gentle clouds float by.",
        "file3.txt": "In the peaceful evening, the stars shine brightly in the quiet sky.",
    }
    for name, text in files.items():
        (d / name).write_text(text + "\n")
    manifest = d / "manifest.txt"
    manifest.write_text("3\n" + "\n".join(f"{d}/{n}" for n in files) + "\n")
    return str(d)
