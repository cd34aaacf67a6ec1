"""Streaming half of format('corpus'): the manifest as an append-only
log. Exactly-once per file, ordinal identity preserved, growth picked
up across micro-batches, and the flagship batch index unchanged when
run over the stream, including files that arrive after it starts."""

from __future__ import annotations

import os

from apd_map_reduce_spark.operators.invindex import inverted_index
from apd_map_reduce_spark.sources.corpus_datasource import register_corpus_source
from apd_map_reduce_spark.sources.manifest import read_corpus, read_manifest


def _grow(manifest, n, paths):
    """Atomically rewrite the manifest to its first `n` paths: a
    started query polls latestOffset concurrently, so a plain
    write_text could expose a truncated manifest mid-write (flake).
    Same-directory temp + os.replace keeps every read complete."""
    tmp = manifest.with_suffix(".tmp")
    tmp.write_text(f"{n}\n" + "\n".join(paths[:n]) + "\n")
    os.replace(tmp, manifest)


def _stream(spark, manifest_path, **options):
    register_corpus_source(spark)
    reader = spark.readStream.format("corpus")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(manifest_path)


def test_stream_drains_manifest_exactly_once(spark, small_corpus_dir, tmp_path):
    manifest_path = os.path.join(small_corpus_dir, "manifest.txt")
    # copy of the manifest we can grow (the fixture dir is shared)
    src_lines = open(manifest_path).read().splitlines()
    paths = src_lines[1:]
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("1\n" + paths[0] + "\n")

    stream = _stream(spark, str(manifest), maxFilesPerTrigger="1")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("corpus_ds_rows")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 (unthrottled by protocol): 1 file
        _grow(manifest, 3, paths)
        q.processAllAvailable()  # throttled from here: 1 file per batch
        got = sorted(map(tuple, spark.table("corpus_ds_rows").collect()))
        want = sorted(
            map(
                tuple,
                read_corpus(spark, read_manifest(spark, manifest_path)).collect(),
            )
        )
        assert got == want  # every line exactly once, correct ordinals
        # 1 first batch + 2 throttled batches for the appended files
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    finally:
        q.stop()


def test_stream_picks_up_appended_files(spark, tmp_path):
    # start with 2 files, append a 3rd while the query runs
    texts = ["alpha beta", "beta gamma", "gamma delta"]
    paths = []
    for i, t in enumerate(texts, 1):
        p = tmp_path / f"f{i}.txt"
        p.write_text(t + "\n")
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("2\n" + "\n".join(paths[:2]) + "\n")

    q = (
        _stream(spark, str(manifest))
        .writeStream.format("memory")
        .queryName("corpus_ds_growth")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert {r.file_id for r in spark.table("corpus_ds_growth").collect()} == {1, 2}

        _grow(manifest, 3, paths)  # append-only growth, atomic swap
        q.processAllAvailable()
        rows = sorted(map(tuple, spark.table("corpus_ds_growth").collect()))
        assert rows == [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")]
    finally:
        q.stop()


def test_checkpoint_restart_replays_exactly_once(spark, tmp_path):
    """Offset-range replay across restarts: a new query instance over
    the same checkpoint must not re-ingest committed manifest entries,
    and must pick up entries appended while the stream was down."""
    texts = ["alpha beta", "beta gamma", "gamma delta", "delta eps"]
    paths = []
    for i, t in enumerate(texts, 1):
        p = tmp_path / f"f{i}.txt"
        p.write_text(t + "\n")
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            _stream(spark, str(manifest))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    manifest.write_text("2\n" + "\n".join(paths[:2]) + "\n")
    run_once()
    # grow the manifest while no query is running, then restart
    manifest.write_text("4\n" + "\n".join(paths) + "\n")
    run_once()
    # restart again with nothing new — must add zero rows
    run_once()

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == [(i + 1, t) for i, t in enumerate(texts)]


def test_checkpoint_restart_with_rate_limit_never_rewinds(spark, tmp_path):
    """Regression: a restarted reader has no initialOffset call to
    learn the committed position; if its rate limiter assumed 0, its
    latestOffset would fall BELOW the committed offset, the engine
    would plan subsequent ranges from the rewound point, and entries
    would be REPLAYED (observed as duplicates before the fix). The
    first post-restart batch is unthrottled instead."""
    texts = ["w0 c", "w1 c", "w2 c", "w3 c"]
    paths = []
    for i, t in enumerate(texts):
        p = tmp_path / f"f{i}.txt"
        p.write_text(t + "\n")
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            _stream(spark, str(manifest), maxFilesPerTrigger="1")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    manifest.write_text("3\n" + "\n".join(paths[:3]) + "\n")
    run_once()  # commits offset 3 across 3 throttled batches
    manifest.write_text("4\n" + "\n".join(paths) + "\n")
    run_once()  # fresh reader must NOT rewind below offset 3
    run_once()  # idle restart must add nothing

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == [(i + 1, t) for i, t in enumerate(texts)]


def test_streaming_ingest_example_end_to_end(spark, tmp_path):
    """The examples/streaming_ingest.py composition: manifest-log
    stream (wholetext) → persisted-LSH-index screening across a
    query restart. The example's own asserts cover the semantics
    (planted near-dups flagged against first-wave originals, distinct
    doc unflagged, wave 1 not re-ingested)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    import streaming_ingest

    old_argv = sys.argv
    sys.argv = ["streaming_ingest.py", str(tmp_path / "demo")]
    try:
        assert streaming_ingest.main() == 0
    finally:
        sys.argv = old_argv


def _index_query(spark, manifest, name, **options):
    """The batch inverted_index over the manifest-log stream, drained
    in complete mode to a memory table."""
    return (
        inverted_index(_stream(spark, str(manifest), **options))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )


def _index_table(spark, name):
    return {r.word: (tuple(r.file_ids), r.df) for r in spark.table(name).collect()}


def test_incremental_index_over_custom_source(spark, small_corpus_dir):
    """The batch inverted_index over the manifest-log stream equals the
    batch index over the same manifest."""
    manifest_path = os.path.join(small_corpus_dir, "manifest.txt")
    q = _index_query(spark, manifest_path, "corpus_ds_index", maxFilesPerTrigger="1")
    try:
        q.processAllAvailable()
        got = _index_table(spark, "corpus_ds_index")
    finally:
        q.stop()
    batch = {
        r.word: (tuple(r.file_ids), r.df)
        for r in inverted_index(
            read_corpus(spark, read_manifest(spark, manifest_path))
        ).collect()
    }
    assert got == batch


def test_incremental_index_picks_up_late_files(spark, tmp_path):
    """A file written and appended to the manifest after the query
    starts is indexed under its own ordinal, not dropped."""
    files = [tmp_path / f"f{i}.txt" for i in range(1, 4)]
    paths = [str(f) for f in files]
    files[0].write_text("alpha beta\n")
    files[1].write_text("beta gamma\n")
    manifest = tmp_path / "manifest.txt"
    _grow(manifest, 2, paths)
    q = _index_query(spark, manifest, "corpus_ds_late")
    try:
        q.processAllAvailable()
        files[2].write_text("alpha delta\n")
        _grow(manifest, 3, paths)
        q.processAllAvailable()
        got = _index_table(spark, "corpus_ds_late")
    finally:
        q.stop()
    assert got["alpha"] == ((1, 3), 2)
    assert got["delta"] == ((3,), 1)


def test_latest_offset_monotone_under_manifest_shrink(tmp_path):
    """latestOffset never goes below a previously returned offset, even
    if a poll lands inside an out-of-contract manifest state (e.g. a
    non-atomic rewrite momentarily exposes a truncated file): the
    engine would otherwise rewind offset ranges and replay entries.
    Driver-side reader unit test — no Spark session needed."""
    from apd_map_reduce_spark.sources.corpus_datasource import CorpusStreamReader

    paths = []
    for i in range(3):
        p = tmp_path / f"f{i}.txt"
        p.write_text("word\n")
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("3\n" + "\n".join(paths) + "\n")

    reader = CorpusStreamReader({"path": str(manifest)})
    assert reader.latestOffset() == {"index": 3}
    # momentary truncation (mid-rewrite read)
    manifest.write_text("1\n" + paths[0] + "\n")
    assert reader.latestOffset() == {"index": 3}
    # recovery restores the high-water mark ...
    manifest.write_text("3\n" + "\n".join(paths) + "\n")
    assert reader.latestOffset() == {"index": 3}
    # ... and growth past it resumes forward progress
    p4 = tmp_path / "f3.txt"
    p4.write_text("word\n")
    paths.append(str(p4))
    manifest.write_text("4\n" + "\n".join(paths) + "\n")
    assert reader.latestOffset() == {"index": 4}


def test_latest_offset_holds_when_manifest_emptied(tmp_path):
    """A manifest emptied mid-rewrite (zero bytes, or only blank lines)
    parses as no entries, so the monotonic clamp holds the offset
    instead of the poll raising."""
    from apd_map_reduce_spark.sources.corpus_datasource import CorpusStreamReader

    paths = []
    for i in range(2):
        p = tmp_path / f"f{i}.txt"
        p.write_text("word\n")
        paths.append(str(p))
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("2\n" + "\n".join(paths) + "\n")

    reader = CorpusStreamReader({"path": str(manifest)})
    assert reader.latestOffset() == {"index": 2}
    manifest.write_text("")
    assert reader.latestOffset() == {"index": 2}
    manifest.write_text("\n  \n")
    assert reader.latestOffset() == {"index": 2}
