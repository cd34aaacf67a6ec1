"""Streaming inverted index == batch inverted index, across multiple
micro-batches (maxFilesPerTrigger=1 forces incremental state merges).
The streaming index is the batch `inverted_index` over the
manifest-as-log source `format("corpus")`."""

from __future__ import annotations

import os

from apd_map_reduce_spark.operators.invindex import inverted_index
from apd_map_reduce_spark.sources.manifest import read_corpus, read_manifest

from .test_corpus_datasource_stream import _grow, _index_query, _index_table


def test_incremental_index_matches_batch(spark, small_corpus_dir, tmp_path):
    """The first batch of a query is unthrottled, so the manifest starts
    at one file and grows to three, admitted one per batch."""
    manifest_path = os.path.join(small_corpus_dir, "manifest.txt")
    with open(manifest_path) as fh:
        paths = fh.read().splitlines()[1:]
    manifest = tmp_path / "manifest.txt"
    _grow(manifest, 1, paths)
    q = _index_query(spark, manifest, "inc_index", maxFilesPerTrigger="1")
    try:
        q.processAllAvailable()
        _grow(manifest, 3, paths)
        q.processAllAvailable()
        # one micro-batch per file → the collect_set state merges
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
        got = _index_table(spark, "inc_index")
    finally:
        q.stop()
    batch = {
        r.word: (tuple(r.file_ids), r.df)
        for r in inverted_index(
            read_corpus(spark, read_manifest(spark, manifest_path))
        ).collect()
    }
    assert got == batch
