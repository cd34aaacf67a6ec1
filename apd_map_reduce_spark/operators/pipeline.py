"""End-to-end training-data cleaning pipeline — the capstone
composition of the dedup + quality operators (driver mandate: "the
operations a large-scale training-data pipeline would need").

    documents
      → drop exact duplicates (keep min doc_id per content hash)
      → drop near-duplicates (MinHash-LSH candidates verified at
        Jaccard ≥ 0.5; the HIGHER doc_id of each surviving pair drops)
      → drop low-quality docs (alpha-token ratio < 0.5 or < 5 tokens)
      → clean snapshot

Near-dup removal is single-pass (drop any doc that is the b-side of a
qualifying pair) — deterministic and shuffle-bounded. The b-side drop is
taken at the representative level: from the LSH pairs over one doc per
content hash, before `minhash_lsh_pairs` would expand them over the
exact-dup members. That expansion adds no representative as a doc_b,
and only representatives pass the exact-dup gate, so the result is the
same (argument at the call site). Transitive-closure grouping
(connected components) is the iterative refinement a real pipeline
might add and is documented as out of scope here.

`materialize_clean_snapshot` writes the surviving rows as partitioned
parquet — the publishable dataset snapshot — and counts them with an
observation on that write, so the DAG runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import WS_COUNT_SQL
from apd_map_reduce_spark.operators.dedup import (
    _lsh_rep_pairs,
    _minhash_oracle,
    dedup_exact,
)
from apd_map_reduce_spark.operators.textstats import quality_score
from apd_map_reduce_spark.plans.observe import observed
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

NEAR_DUP_THRESHOLD = 0.5
MIN_TOKENS = 5
MIN_ALPHA_RATIO = 0.5


def clean_corpus(docs: DataFrame) -> DataFrame:
    """Surviving documents after exact-dup, near-dup, quality filters.

    Returns DataFrame[doc_id, n_tokens, alpha_token_ratio] of keepers.
    """
    # One digest aggregation feeds BOTH the exact-dup filter and the
    # LSH path's exact-dup pre-grouping (cached: two consumers).
    clusters = dedup_exact(docs).cache()
    keep_exact = clusters.select(F.col("keep_doc_id").alias("doc_id"))
    survivors = docs.join(keep_exact, "doc_id", "left_semi")

    # Rep-level drop == the expanded one: survivors are reps, rep pairs
    # have ra < rb, and an expanded greatest(ea, eb) is a rep only if it
    # is rb (ra needs eb < ra < rb <= eb); intra-cluster doc_b's aren't.
    rep_pairs, _, _ = _lsh_rep_pairs(docs, NEAR_DUP_THRESHOLD, clusters=clusters)
    drop_b = rep_pairs.select(F.col("doc_b").alias("doc_id"))
    survivors = survivors.join(drop_b, "doc_id", "left_anti")

    q = quality_score(docs).select("doc_id", "n_tokens", "alpha_token_ratio")
    return (
        survivors.join(q, "doc_id")
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("alpha_token_ratio") >= MIN_ALPHA_RATIO)
        )
        .select("doc_id", "n_tokens", "alpha_token_ratio")
    )


def _clean_corpus_oracle() -> str:
    near_dup_sql = _minhash_oracle(threshold=NEAR_DUP_THRESHOLD)
    return f"""
WITH dropb AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({near_dup_sql}) nd
),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
q AS (
  SELECT doc_id,
         {WS_COUNT_SQL} AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE)
           / GREATEST({WS_COUNT_SQL}, 1) AS alpha_token_ratio
  FROM documents
)
SELECT d.doc_id, q.n_tokens, q.alpha_token_ratio
FROM documents d
JOIN keep_exact k ON d.doc_id = k.doc_id
JOIN q ON q.doc_id = d.doc_id
LEFT JOIN dropb ON d.doc_id = dropb.doc_id
WHERE dropb.doc_id IS NULL
  AND q.n_tokens >= {MIN_TOKENS}
  AND q.alpha_token_ratio >= {MIN_ALPHA_RATIO}
"""


PIPELINE_QUERIES = [
    QueryDef(
        "corpus_clean_snapshot",
        lambda s, d: clean_corpus(load_table(s, d, "documents")),
        _clean_corpus_oracle(),
        headline=True,
    ),
]


def materialize_clean_snapshot(docs: DataFrame, out_path: str) -> int:
    """Write the publishable snapshot (full rows of keepers) as
    parquet partitioned by lang; returns surviving row count.

    The count is observed on the write itself: a `count()` afterwards
    would re-run the whole exact → LSH → quality DAG."""
    keepers = clean_corpus(docs).select("doc_id")
    snapshot, obs = observed(
        docs.join(keepers, "doc_id", "left_semi"), "snapshot", n=F.count(F.lit(1))
    )
    snapshot.write.mode("overwrite").partitionBy("lang").parquet(out_path)
    return obs.get["n"]
