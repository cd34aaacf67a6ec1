"""The reference corpus as a first-class Spark data source (Python
Data Source API, Spark 4).

`spark.read.format("corpus").load(manifest)` reads the reference's
manifest format (line 1 = N, then N paths — `tema1a/src/main.cpp:188-200`)
straight into the engine's canonical corpus relation
DataFrame[file_id INT, line STRING], with the 1-based manifest ordinal
as the document identity (`main.cpp:103`) — the same contract as
`sources/manifest.py`'s reader composition, re-expressed as a source
the planner owns end-to-end:

  * one `InputPartition` per manifest file — the file IS the reference's
    work-queue granule (SURVEY.md §2.1 S3: mapper threads pull whole
    files off a shared queue; Spark's task scheduler plays the queue,
    one task per partition, stragglers rebalanced by the scheduler
    rather than a mutex).
  * the ordinal is carried INSIDE the partition value, so no
    `input_file_name()` → broadcast-join tag-back is needed at all —
    the join disappears from the plan, and with it the cold-start
    manifest `collect()`.
  * each partition yields ONE Arrow RecordBatch for its file (files are
    work-queue granules, small by the reference's data model — the
    64 MB split logic of a real file source is out of scope and
    documented as such).

This is the idiomatic Spark-4 surface for "teach the engine a custom
format"; the composition reader (`read_corpus`) remains the default
path because it rides the JVM-native text source — measured on the
355-file reference checker corpus through the full index (warm
min-of-3, noop sink): 1.15 s vs 3.70 s here, the 3.2x being Python
worker fan-out + Arrow transfer per file-partition. Use this source
where its semantics pay (manifest-log streaming, ordinal-in-partition,
formats the JVM has no reader for); `tests/test_corpus_datasource.py`
pins the two to identical results, so it doubles as an independent
check of the ordinal-tagging contract.

The same format also streams: `spark.readStream.format("corpus")
.load(manifest)` treats the manifest as an append-only log (the
reference's growth model — N on line 1 grows as paths are appended),
with the stream offset = number of manifest entries ingested. Each
micro-batch reads exactly the newly appended files, each file exactly
once with its ordinal identity. `inverted_index(spark.readStream
.format("corpus").load(manifest))` (operators/invindex.py) is the
streaming flagship: files appended to the manifest after the query
starts are indexed under their own ordinals.

Options:
  * path (positional via `.load(path)`): the manifest file.
  * wholetext ("true"/"false", default false): one row per FILE
    instead of per line — the small-file packing shape; whitespace
    tokenization is line-agnostic, so the index is the same as in
    line mode.
  * maxFilesPerTrigger (streaming only, default unbounded): cap on
    manifest entries admitted per micro-batch, effective from the
    second batch of a query instance (see CorpusStreamReader).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

CORPUS_SCHEMA = "file_id INT, line STRING"


@dataclass
class _FilePartition(InputPartition):
    file_id: int
    path: str
    wholetext: bool = False


def _read_file_partition(partition: _FilePartition):
    """Executor-side file read shared by the batch and stream readers:
    one Arrow RecordBatch per file (the work-queue granule)."""
    import re

    import pyarrow as pa

    # errors='replace' matches the JVM text source: Hadoop's Text
    # decodes malformed UTF-8 to U+FFFD instead of failing the task.
    # (Replacement-char COUNT for exotic truncated multi-byte
    # sequences follows Python's maximal-subpart policy — the same
    # policy modern Java uses.)
    with open(partition.path, encoding="utf-8", errors="replace") as fh:
        text = fh.read()
    if partition.wholetext:
        lines = [text]
    else:
        # match the JVM text source's record semantics exactly
        # (Hadoop LineRecordReader): records end at \r\n, lone \r, or
        # \n — a bare CR IS a terminator — and a trailing terminator
        # does not produce an empty final record
        lines = re.split("\r\n|\r|\n", text)
        if lines and lines[-1] == "":
            lines.pop()
    yield pa.RecordBatch.from_arrays(
        [
            pa.array([partition.file_id] * len(lines), type=pa.int32()),
            pa.array(lines, type=pa.string()),
        ],
        names=["file_id", "line"],
    )


class CorpusDataSource(DataSource):
    """format("corpus") — manifest-driven text corpus with ordinal ids."""

    @classmethod
    def name(cls) -> str:
        return "corpus"

    def schema(self) -> str:
        return CORPUS_SCHEMA

    def reader(self, schema) -> "CorpusReader":
        return CorpusReader(self.options)

    def streamReader(self, schema) -> "CorpusStreamReader":
        return CorpusStreamReader(self.options)


class CorpusReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "corpus source requires the manifest path: "
                "spark.read.format('corpus').load('<manifest>')"
            )
        self._manifest_path = path
        self._wholetext = str(options.get("wholetext", "false")).lower() == "true"

    def partitions(self) -> list[_FilePartition]:
        # Driver-side manifest parse (tiny by contract — O(file count)
        # lines); the ordinal rides in the partition value so executors
        # never need a tag-back join.
        from apd_map_reduce_spark.sources.manifest import parse_manifest

        return [
            _FilePartition(file_id, p, self._wholetext)
            for file_id, p in parse_manifest(self._manifest_path)
        ]

    def read(self, partition: _FilePartition):
        yield from _read_file_partition(partition)


class CorpusStreamReader(DataSourceStreamReader):
    """Micro-batch reader over the append-only manifest.

    Offset = {"index": n} — the count of manifest entries ingested so
    far; monotone because the manifest only appends (the documented
    growth contract; shrinking it mid-stream is out of contract, as
    with any source's retention breach). The reader instance lives on
    the driver for the life of the query, so `maxFilesPerTrigger`
    rate-limits by advancing latestOffset at most that many entries
    past the previous plan point; exactly-once per file follows from
    offset-range planning (each entry appears in exactly one
    [start, end) range, checkpoint-replayable).

    Rate-limit subtlety (caught by live probes, not review): the
    engine's FIRST call to a new reader instance is latestOffset —
    before initialOffset on a fresh query, and with no position signal
    at all on a checkpoint restart (the committed offset lives in the
    offset log; the Python protocol's latestOffset takes no start
    argument). A limiter that assumed position 0 would hand back a
    latestOffset BELOW the committed offset on restart; the engine
    then chains subsequent ranges from that rewound point and REPLAYS
    entries (observed as duplicates). Hence `_planned` starts UNKNOWN
    and latestOffset returns everything available until a position is
    learned (from the engine's own planned ranges): the FIRST
    micro-batch of any query instance is unthrottled — the safe
    direction — and maxFilesPerTrigger bounds every batch after it."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "corpus source requires the manifest path: "
                "spark.readStream.format('corpus').load('<manifest>')"
            )
        self._manifest_path = path
        self._wholetext = str(options.get("wholetext", "false")).lower() == "true"
        max_files = options.get("maxfilespertrigger")
        self._max_files = int(max_files) if max_files else None
        # highest offset handed to the engine, or None when this reader
        # has not yet learned the stream position (checkpoint restart)
        self._planned: int | None = None

    def initialOffset(self) -> dict:
        self._planned = 0  # fresh query: position known exactly
        return {"index": 0}

    def latestOffset(self) -> dict:
        from apd_map_reduce_spark.sources.manifest import parse_manifest

        available = len(parse_manifest(self._manifest_path))
        # Monotonicity clamp: a non-atomic manifest rewrite can expose
        # a truncated read (parse_manifest silently returns fewer
        # entries than the declared N mid-write); never hand the engine
        # an offset BELOW one already returned/planned by this reader —
        # the engine would rewind ranges and replay entries.
        available = max(available, self._planned or 0)
        if self._max_files is not None and self._planned is not None:
            available = min(available, self._planned + self._max_files)
        self._planned = max(self._planned or 0, available)
        return {"index": available}

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        from apd_map_reduce_spark.sources.manifest import parse_manifest

        # the engine's own range is ground truth for the stream position
        self._planned = max(self._planned or 0, start["index"], end["index"])
        entries = parse_manifest(self._manifest_path)[start["index"] : end["index"]]
        return [_FilePartition(file_id, p, self._wholetext) for file_id, p in entries]

    def read(self, partition: _FilePartition):
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # no source-side cleanup: the manifest is the log


def register_corpus_source(spark) -> None:
    """Idempotent registration of format('corpus') on this session."""
    spark.dataSource.register(CorpusDataSource)
