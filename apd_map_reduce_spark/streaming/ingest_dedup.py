"""Streaming ingestion with incremental NEAR-dup screening — the
streaming twin of `operators/dedup.dedup_incremental_neardup`
(SURVEY.md §7.3 v4 extension; the reference has no streaming).

Every micro-batch of incoming documents is screened against a
PERSISTED corpus LSH index before being admitted to it:

    batch → shingle hashes → MinHash signatures → band keys
          → candidates = batch bands ⋈ index bands (keyed equi-join)
          → exact-Jaccard verify against the index's shingle sets
          → matches appended to `matches_path`
          → batch's own shingles+bands appended to the index

The index is two parquet relations under `index_path`:
    shingles/  (doc_id, sh)            — RAW (unguarded) shingle sets,
      for exact verification AND for deriving the stop-shingle list
      (shingles with index-df > MAX_SHINGLE_DF) that guards each
      screen — see the stop-list comment in _screen_and_index
    bands/     (doc_id, band, band_hash) — for candidate generation,
      signed over the stop-filtered universe at admission time
      (band_hash = STRUCT of the band's minhash values since the
      digest-free band keys change; indexes persisted by the older
      md5-string format are REJECTED at startup with a rebuild-required
      error — see _check_index_format)
Exactly what a production ingest keeps hot: O(index docs × LSH_BANDS)
band rows and the shingle sets — never the documents themselves.

Semantics: a pair is flagged when the LATER document arrives (earlier
doc is already indexed); duplicates WITHIN one micro-batch are not
flagged here — that is `dedup_incremental`'s batch_dup screen /
`minhash_lsh_pairs` at rest. A doc_id ALREADY IN THE INDEX that
arrives again (a re-crawl/replay) is skipped entirely — neither
re-screened nor re-admitted: double-admitting would duplicate its
shingle rows, double-counting every later intersection against it
(jaccard > 1) and making its band keys m-hot. The foreachBatch body
runs batch DataFrame ops only (keyed joins, no collect of data rows),
and the checkpoint serializes batches, so index appends never race.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.dedup import (
    NEARDUP_THRESHOLD,
    band_join,
    band_relation,
    doc_shingle_hashes,
    minhash_signatures,
    stop_shingles,
    verify_jaccard,
)
from apd_map_reduce_spark.sources.tables import local_frame

MATCHES_SCHEMA = (
    "batch_doc LONG, corpus_doc LONG, jaccard DOUBLE, batch_id LONG"
)


def _try_read_parquet(spark, path: str) -> DataFrame | None:
    """FS-agnostic existence probe: attempt the read and treat the
    analyzer's path-not-found as 'no index yet'. A driver-local
    os.path.isdir would silently disable screening on any non-local
    URI (HDFS/S3) — always-False means every batch admitted
    unscreened, a 100% recall loss with no error."""
    try:
        return spark.read.parquet(path)
    except Exception:  # AnalysisException: PATH_NOT_FOUND
        return None


def _check_index_format(cband: DataFrame, band_dir: str) -> None:
    """Fail FAST and clearly on an index persisted by the retired
    md5-string band_hash format: the directory carries no version
    marker, so a resumed ingest would append the new struct-typed rows
    and only die later at read/join time with a confusing parquet
    schema-merge error — after polluting the index."""
    from pyspark.sql.types import StructType

    field = {f.name: f for f in cband.schema.fields}.get("band_hash")
    if field is None or not isinstance(field.dataType, StructType):
        raise ValueError(
            f"LSH index at {band_dir} has band_hash type "
            f"{None if field is None else field.dataType.simpleString()}, "
            "but this version keys bands by a STRUCT of minhash values "
            "(the md5-string format was retired). The index format "
            "changed — rebuild it by re-ingesting the corpus into a "
            "fresh index_path."
        )


def _screen_and_index(index_path: str, matches_path: str, threshold: float):
    shingle_dir = os.path.join(index_path, "shingles")
    band_dir = os.path.join(index_path, "bands")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cband = _try_read_parquet(spark, band_dir)
        csh = _try_read_parquet(spark, shingle_dir)
        if cband is not None:
            _check_index_format(cband, band_dir)

        # Skip re-arrivals of already-indexed doc_ids (see module
        # docstring) BEFORE any shingling work.
        if cband is not None:
            known = cband.select("doc_id").distinct()
            batch_df = batch_df.join(known, "doc_id", "left_anti")

        # One materialization of the batch's shingle relation feeds
        # signatures AND (potential) verification AND the index append
        # (the index stores RAW shingles so the evolving stop-list is
        # always computable from it; the guard is applied per screen).
        bsh = doc_shingle_hashes(batch_df).cache()

        # Stop-shingle guard (mirrors dedup_incremental_neardup): the
        # INDEX owns the stop-list — shingles with index-df > max_df —
        # and both sides' signatures and shingle sets are filtered by
        # it, bounding every index-side band bucket at ~max_df docs.
        # Persisted band rows were signed under the stop-list at THEIR
        # admission time; a shingle that crosses the threshold later
        # leaves stale band rows, but their buckets stop growing (a
        # stopped shingle can no longer be any new signature's argmin),
        # so bucket sizes stay bounded by ~max_df + one batch. An index
        # rebuild re-signs under the current stop-list.
        if csh is not None:
            stop = F.broadcast(stop_shingles(csh))
            cshf = csh.join(stop, "sh", "left_anti")
            bshf = bsh.join(stop, "sh", "left_anti")
        else:
            cshf = None
            bshf = bsh
        bbands = band_relation(minhash_signatures(batch_df, sh=bshf))

        if cband is not None and cshf is not None:
            hits, pair = band_join(bbands, cband, "batch_doc", "corpus_doc")
            candidates = hits.select(*pair).distinct()
            matches = verify_jaccard(
                candidates,
                bshf,
                cshf,
                threshold,
                names=("batch_doc", "corpus_doc", "n_b", "n_c"),
            ).withColumn("batch_id", F.lit(batch_id))
            matches.write.mode("append").parquet(matches_path)
        else:
            # First batch of a fresh pipeline: materialize an EMPTY
            # matches relation so read_matches works after a
            # single-micro-batch drain (availableNow batches up to
            # 1000 files by default — a small first deployment is one
            # batch, and 'no duplicates yet' must read as 0 rows, not
            # a missing-path error).
            local_frame(spark, [], MATCHES_SCHEMA).write.mode("append").parquet(
                matches_path
            )

        # Admit the batch to the index (append-only; the streaming
        # checkpoint guarantees each batch lands exactly once absent
        # mid-append crashes — for stronger guarantees put the index
        # in a transactional table format).
        bsh.write.mode("append").parquet(shingle_dir)
        bbands.write.mode("append").parquet(band_dir)
        bsh.unpersist()

    return process


def neardup_ingest_stream(
    docs_stream: DataFrame,
    index_path: str,
    matches_path: str,
    checkpoint: str,
    threshold: float = NEARDUP_THRESHOLD,
    available_now: bool = True,
):
    """Start the screening ingest over a streaming documents relation
    (columns doc_id, text). Returns the started StreamingQuery.

    `available_now=False` starts a continuous micro-batch query
    instead of the drain-and-stop trigger — required for sources that
    do not declare availableNow support (e.g. the Python
    format('corpus') manifest-log source); the caller then drives it
    with processAllAvailable()/stop()."""
    w = docs_stream.writeStream.foreachBatch(
        _screen_and_index(index_path, matches_path, threshold)
    ).option("checkpointLocation", checkpoint).outputMode("append")
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_matches(spark, matches_path: str) -> DataFrame:
    return spark.read.parquet(matches_path)
