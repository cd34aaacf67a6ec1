"""Corpus manifest + text-file sources (reference S1/S2).

Reference semantics (SURVEY.md §2.1):
  * S1 manifest scan — `tema1a/src/main.cpp:188-200`: a list file whose
    first line is N followed by N paths; the 1-based ordinal position of
    each path IS the document identity (`main.cpp:103`).
  * S2 text scan — `main.cpp:67-76`: whitespace-delimited token stream
    per file (C++ `operator>>` semantics: any run of space/tab/newline).

Spark gives no stable file ordinal for free, so the ordinal contract is
made explicit: the manifest is numbered driver-side (it is tiny — a list
of paths), handed to Spark as an Arrow local relation (no job, no
Python worker), and broadcast-joined to `input_file_name()`. At 100 TB
the manifest is still only O(file count) rows, so the broadcast join
holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apd_map_reduce_spark.sources.tables import local_frame

MANIFEST_SCHEMA = "file_id INT, path STRING"


def parse_manifest(manifest_path: str) -> list[tuple[int, str]]:
    """Parse the reference manifest format (line 1 = N, then N paths)
    driver-side into [(file_id, absolute_path)] — the manifest is
    O(file count) by contract, so this is a tiny local read."""
    base = os.path.dirname(os.path.abspath(manifest_path))
    with open(manifest_path, encoding="utf-8") as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if not lines:
        return []  # empty/blank file: no entries, same as a count of 0
    n = int(lines[0])
    paths = lines[1 : n + 1]
    return [
        (i + 1, p if os.path.isabs(p) else os.path.normpath(os.path.join(base, p)))
        for i, p in enumerate(paths)
    ]


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Parse the reference manifest format: line 1 = N, then N paths.

    Returns DataFrame[file_id INT (1-based ordinal), path STRING (absolute)]
    over a `LocalRelation`.
    """
    return local_frame(spark, parse_manifest(manifest_path), MANIFEST_SCHEMA)


def _tag_file_ids(text: DataFrame, manifest: DataFrame) -> DataFrame:
    """(file_id, line) from a text-reader DataFrame (`value` column):
    the manifest side is broadcast (tiny dim), so the tag is a map-side
    hash join — no shuffle of the corpus itself. `input_file_name()`
    yields a file:/// URI; it is normalized back to the plain absolute
    path the manifest holds before the join."""
    lines = text.select(
        F.col("value").alias("line"),
        F.url_decode(F.regexp_replace(F.input_file_name(), "^file:/+", "/")).alias("_src"),
    )
    dim = manifest.select("file_id", F.col("path").alias("_src"))
    return lines.join(F.broadcast(dim), "_src", "inner").select("file_id", "line")


def read_corpus(
    spark: SparkSession, manifest: DataFrame, paths: list[str] | None = None
) -> DataFrame:
    """Read every manifest file as lines, tagged with its ordinal file_id.

    Returns DataFrame[file_id INT, line STRING], tagged by
    `_tag_file_ids` (broadcast join — no shuffle of the corpus).

    `paths` (optional): the manifest's path list when the caller already
    has it driver-side (e.g. from `parse_manifest`) — skips the collect
    job that would otherwise be the cold JVM's first action. Cold-start
    cost matters for the reference-checker protocol, which launches a
    fresh process per (M,R) config.
    """
    if paths is None:
        paths = [r.path for r in manifest.select("path").collect()]
    return _tag_file_ids(spark.read.text(paths), manifest)
