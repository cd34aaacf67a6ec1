"""The stop-shingle guard as part of the LSH family contract
(signatures, candidates, and verification all over the df ≤ max_df
universe) — the two properties that motivated it:

* band buckets are BOUNDED by ~max_df regardless of how many docs
  share a hot shingle (the raw-shingle form measured a 12,637-doc
  bucket and 7.06e8 candidate pairs on the 500k-doc sf10 fixture);
* the screen's S-curve applies to the similarity the verify actually
  thresholds — a pair whose raw sets are diluted by disjoint hot
  shingles is FOUND, not silently missed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.dedup import (
    band_relation,
    dedup_incremental_neardup,
    doc_shingle_hashes,
    lsh_candidate_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    stop_shingle_filter,
)

HOT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _bucket_sizes(sh_rel):
    bands = band_relation(minhash_signatures(None, sh=sh_rel))
    return (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
        .mx
    )


def test_lsh_band_buckets_bounded_by_max_df(spark):
    """40 docs share a 10-word hot phrase; each has a unique tail.
    Raw signatures put all 40 into shared band buckets (the sf10
    failure mode in miniature); guarded signatures keep every bucket
    at df ≤ max_df and produce zero candidates from hot-only overlap."""
    max_df = 4
    # Suffixes must stay ALPHABETIC: normalization strips [^A-Za-z],
    # so "u0"/"u17" would all collapse to "u" and the tails would stop
    # being unique.
    sfx = [chr(97 + i % 26) + chr(97 + i // 26) for i in range(40)]
    docs = spark.createDataFrame(
        [(i, f"{HOT} u{s} v{s} w{s} x{s}") for i, s in enumerate(sfx)],
        "doc_id LONG, text STRING",
    )
    raw = doc_shingle_hashes(docs).cache()

    # Counterfactual: raw-shingle signatures pile most of the corpus
    # into shared buckets (a doc escapes a band only when one of its
    # unique shingles out-hashes every hot shingle under that band's
    # permutations).
    assert _bucket_sizes(raw) > 5 * max_df

    # Guarded: every hot shingle (df=40 > 4) is dropped before
    # signing; the surviving shingles are per-doc unique, so every
    # bucket is a singleton — and in general no bucket can exceed
    # max_df, because every doc in a bucket contains the bucket's
    # argmin shingle, whose df is ≤ max_df by construction.
    shf = stop_shingle_filter(raw, max_df=max_df)
    assert _bucket_sizes(shf) == 1
    assert lsh_candidate_pairs(docs, shf=shf).count() == 0


def test_lsh_screen_finds_stop_diluted_pair(spark):
    """Docs A and B share an identical rare tail but carry DISJOINT
    hot prefixes (each made hot by filler docs): raw jaccard sits
    below the 0.5 threshold while guarded jaccard is well above it.
    The old raw-signature screen verified raw jaccard, so this pair
    was unreportable; the guarded family reports it."""
    max_df = 4
    hot_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    hot_b = "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    tail = "quill rook sable thorn umber vellum willow xenon yarrow zephyr"
    rows = [(1, f"{hot_a} {tail}"), (2, f"{hot_b} {tail}")]
    # alphabetic filler suffixes — digits would be normalized away
    rows += [(10 + i, f"{hot_a} fa{chr(97 + i)} ga{chr(97 + i)}") for i in range(5)]
    rows += [(20 + i, f"{hot_b} fb{chr(97 + i)} gb{chr(97 + i)}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    # Raw-universe jaccard of (1, 2) is diluted below 0.5 ...
    raw_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.0, max_df=10**9
        ).collect()
    }
    assert raw_pairs[(1, 2)] < 0.5

    # ... but the guarded family reports it, with the guarded measure.
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5, max_df=max_df).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)] > 0.5


def test_incremental_neardup_corpus_owns_stop_list(spark):
    """The corpus side's stop-list governs both sides: a batch doc
    whose similarity to a corpus doc rests on the shared rare tail is
    found even though disjoint hot prefixes dilute the raw measure."""
    max_df = 4
    hot_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    hot_b = "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    tail = "quill rook sable thorn umber vellum willow xenon yarrow zephyr"
    corpus_rows = [(1, f"{hot_a} {tail}")]
    corpus_rows += [(10 + i, f"{hot_a} fa{chr(97 + i)} ga{chr(97 + i)}") for i in range(5)]
    corpus_rows += [(20 + i, f"{hot_b} fb{chr(97 + i)} gb{chr(97 + i)}") for i in range(5)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id LONG, text STRING")
    batch = spark.createDataFrame(
        [(100, f"{hot_b} {tail}")], "doc_id LONG, text STRING"
    )
    got = {
        (r.batch_doc, r.corpus_doc): r.jaccard
        for r in dedup_incremental_neardup(
            corpus, batch, threshold=0.5, max_df=max_df
        ).collect()
    }
    assert (100, 1) in got
    assert got[(100, 1)] > 0.5
