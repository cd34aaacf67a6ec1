"""Hybrid retrieval — reciprocal-rank fusion of lexical (BM25) and
semantic (embedding-cosine) rankings.

The production corpus-search shape over the index family the reference
builds (tema1a/src/main.cpp word→{file_id} postings): a query usually
has BOTH a term-set representation and an embedding representation, the
two rankers disagree on the tail, and the standard fusion is RRF
(Cormack et al., SIGIR 2009): score(d) = Σ_lists 1/(K + rank_list(d)),
summed over the lists that ranked d at all. RRF needs only RANKS, so
the two rankers' incomparable score scales never meet — which is also
what makes it deterministic cross-engine (ranks are integers; the only
float arithmetic is the final 1/(K+r) sum of |lists| terms).

Probe contract: the registry entry queries with `BM25_QUERY` as the
lexical representation and the embedding of `RRF_PROBE_VEC` as the
semantic one, over the doc_id = vec_id identity (the testdata
embeddings table is keyed by the documents' id domain). The probe
vector itself (vec_id = RRF_PROBE_VEC) is excluded from the semantic
list — it is the query, not a candidate — but doc RRF_PROBE_VEC may
still surface through the lexical list; that asymmetry is the declared
semantics, mirrored in the oracle.

Scale: the lexical side is `bm25_search` (postings filtered to query
terms before any shuffle, scalars broadcast); the semantic side
broadcasts the single probe row against one corpus scan (the same
whitelisted 1-row scalar-broadcast shape as the ANN baseline) and
takes depth-bounded top lists; the fusion then full-outer-joins two
≤depth-row relations — constant-size work regardless of corpus size.

Determinism: each RRF contribution 1/(K + rank) is a single double op
on integer operands, rounded to 6 decimals, cast DECIMAL(12,6); the
two contributions are summed in the exact decimal domain and cast back
to double, so the fused score is bit-identical cross-engine (the
dec-sum rule of queries/base.py). Every ranking carries a doc_id
tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.cooccur import (
    BM25_QUERY,
    _bm25_oracle,
    bm25_search,
)
from apd_map_reduce_spark.functions.embeddings import (
    EMBEDDING_DIM,
    valid_embeddings,
    valid_embeddings_sql,
)

from apd_map_reduce_spark.operators.similarity import _cos6, _cos_sql, unit_rel
from apd_map_reduce_spark.queries.base import QueryDef, ranked_topk
from apd_map_reduce_spark.sources.tables import load_table

_EMB_GUARD = valid_embeddings_sql()

RRF_K = 60  # the canonical smoothing constant from Cormack et al.
RRF_DEPTH = 20  # depth of each input ranking
RRF_TOP_K = 10
RRF_PROBE_VEC = 0


def _rrf_contribution(rank_col: str) -> F.Column:
    """round(1/(K + rank), 6) as DECIMAL(12,6); 0 when the list did not
    rank the doc (NULL rank)."""
    term = F.round(
        F.lit(1.0) / (F.lit(RRF_K) + F.col(rank_col)).cast("double"), 6
    ).cast("decimal(12,6)")
    return F.coalesce(term, F.lit(0).cast("decimal(12,6)"))


def hybrid_rrf_search(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY,
    probe_vec_id: int = RRF_PROBE_VEC,
    depth: int = RRF_DEPTH,
    k: int = RRF_TOP_K,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Top-k docs under RRF fusion of the BM25 depth-list for `terms`
    and the cosine depth-list for `probe_vec_id`'s embedding.

    Returns (rank, doc_id, bm25_rank, cos_rank, rrf_score) — the input
    ranks are NULL for docs only one list surfaced.
    """
    lex = bm25_search(docs, terms=terms, k=depth).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )

    # Idempotent validity screen so the public function matches the
    # oracle's hard-coded embedding guard even when the caller passes a
    # raw embeddings table (the registry lambda pre-filters; direct
    # callers previously diverged silently).
    embeddings = valid_embeddings(embeddings, dim)
    base = unit_rel(embeddings, dim)
    probe = base.filter(F.col("vec_id") == probe_vec_id).select(
        F.col("embedding").alias("q_dv"), F.col("nrm").alias("q_n")
    )
    corpus = base.filter(F.col("vec_id") != probe_vec_id).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_dv"),
        F.col("nrm").alias("c_n"),
    )
    scored = corpus.crossJoin(F.broadcast(probe)).withColumn(
        "cos_sim", _cos6("q_dv", "c_dv", "q_n", "c_n", dim)
    )
    # depth-bounded semantic list via TakeOrderedAndProject: every scan
    # task keeps a depth-row heap, so the corpus-sized scored relation
    # never moves through a single-partition window.
    sem = ranked_topk(
        scored, (F.desc("cos_sim"), F.asc("doc_id")), depth, "cos_rank"
    ).select("doc_id", "cos_rank")

    fused = lex.join(sem, "doc_id", "full_outer").withColumn(
        "rrf_score",
        (_rrf_contribution("bm25_rank") + _rrf_contribution("cos_rank")).cast(
            "double"
        ),
    )
    # fused is ≤ 2·depth rows by construction (full-outer of two
    # depth-bounded lists) — the final ranking is constant-size work.
    return ranked_topk(
        fused, (F.desc("rrf_score"), F.asc("doc_id")), k, "rank"
    ).select("rank", "doc_id", "bm25_rank", "cos_rank", "rrf_score")


def _hybrid_rrf_oracle(
    terms: tuple[str, ...] = BM25_QUERY,
    probe_vec_id: int = RRF_PROBE_VEC,
    depth: int = RRF_DEPTH,
    k: int = RRF_TOP_K,
) -> str:
    bm25_sql = _bm25_oracle(terms=terms, k=depth)
    return f"""
WITH bm AS (
  SELECT doc_id, rank AS bm25_rank FROM ({bm25_sql}) t
),
q AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings
      WHERE {_EMB_GUARD} AND vec_id = {probe_vec_id}),
c AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS c_emb FROM embeddings
      WHERE {_EMB_GUARD} AND vec_id <> {probe_vec_id}),
cos AS (
  SELECT doc_id,
         {_cos_sql("q_emb", "c_emb")} AS cos_sim
  FROM c CROSS JOIN q
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC)::BIGINT AS cos_rank
  FROM cos QUALIFY cos_rank <= {depth}
),
fused AS (
  SELECT COALESCE(bm.doc_id, sem.doc_id) AS doc_id, bm.bm25_rank, sem.cos_rank,
         (COALESCE(CAST(ROUND(1.0::DOUBLE / ({RRF_K} + bm.bm25_rank)::DOUBLE, 6) AS DECIMAL(12,6)),
                   0::DECIMAL(12,6))
        + COALESCE(CAST(ROUND(1.0::DOUBLE / ({RRF_K} + sem.cos_rank)::DOUBLE, 6) AS DECIMAL(12,6)),
                   0::DECIMAL(12,6)))::DOUBLE AS rrf_score
  FROM bm FULL JOIN sem ON bm.doc_id = sem.doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC)::BIGINT AS rank,
       doc_id, bm25_rank, cos_rank, rrf_score
FROM fused QUALIFY rank <= {k}
"""


RETRIEVAL_QUERIES = [
    QueryDef(
        "text_hybrid_rrf_search",
        lambda s, d: hybrid_rrf_search(
            load_table(s, d, "documents"),
            valid_embeddings(load_table(s, d, "embeddings")),
        ),
        _hybrid_rrf_oracle(),
    ),
]
