"""Token co-occurrence, positional indexing, and TF-IDF term weighting.

The classic MapReduce "pairs" pattern (word co-occurrence counts / PMI)
and the positional extension of the reference's inverted index
(tema1a/src/main.cpp builds word -> {file_id} sets; these operators
extend the same tokenize/normalize contract — P1/P2, SURVEY.md §2.2 —
to word pairs, (doc, position) postings, and tf-idf weights).

Scale design:
  * Co-occurrence pairs are generated ARRAY-SIDE (per-row transform
    over token positions, window offsets 1..W) — no positional
    self-join, no shuffle until the (w1, w2) groupBy, and that
    aggregation combines map-side (the "pairs" pattern's partial
    combine). Row inflation is exactly n_tokens x W per doc, bounded.
  * PMI needs two scalar totals (token count, pair count); both are
    single-row aggregates over ALREADY-AGGREGATED tiny relations,
    broadcast into the final projection — no second pass over the
    corpus.
  * The positional index groups by word — posting strings for frequent
    words grow with the corpus (same caveat as the reference's
    per-letter sink files, which this extends). The doc-partitioned
    sharded variants (`sharded_positional_index`,
    `sharded_delta_postings`, shard = doc_id // block) are the 100 TB
    path: every aggregation group, shuffle key, and output cell is
    bounded by `block` documents regardless of a word's frequency, and
    a word's full list is the shard_id-ordered concatenation.
  * Phrase search is a pure scan: the consecutive-token test runs
    array-side per document (higher-order filter over positions), so
    the plan is scan -> filter -> project with zero shuffles.
  * TF-IDF is two keyed aggregations (per-(doc,term) tf, per-term df)
    plus a broadcast scalar N; the per-doc top-k is one window pass
    partitioned by doc_id — never a global sort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    TOKENS_SQL,
    null_safe_size,
    tokenize_normalized,
)
from apd_map_reduce_spark.plans.layout import (
    explode_nonnull,
    posexplode_nonnull,
    spread,
)
from apd_map_reduce_spark.queries.base import QueryDef, grouped_topk, ranked_topk
from apd_map_reduce_spark.sources.tables import load_table, local_frame

COOCCUR_WINDOW = 2  # pair tokens with the next 1..W positions
MIN_PAIR_COUNT = 5  # drop noise pairs (and bound PMI output size)
TFIDF_TOP_K = 5
PHRASE = ("slow", "hash", "batch")  # 3-gram present across test SFs


def _positions(n_expr: Column) -> Column:
    """sequence(1, n) that is EMPTY when n < 1 (Spark's sequence(1, 0)
    is the descending [1, 0] — a silent wrong-answer trap)."""
    return F.when(
        n_expr >= 1, F.sequence(F.lit(1), n_expr)
    ).otherwise(F.array().cast("array<int>"))


def _tokens_rel(docs: DataFrame) -> DataFrame:
    """(doc_id, ts) with ts = P1/P2-normalized token array."""
    return spread(docs).select("doc_id", tokenize_normalized("text").alias("ts"))


def _offset_pairs(j: int) -> Column:
    """Unordered (w1<=w2) token pairs at position offset exactly j,
    built by zipping the array with its own j-shifted slice — no
    per-element index arithmetic (a two-parameter lambda would be
    silently bound to (element, index) by transform())."""
    n = F.size("ts")
    return F.when(
        n > j,
        F.zip_with(
            F.slice("ts", 1, n - F.lit(j)),
            F.slice("ts", F.lit(j + 1), n - F.lit(j)),
            lambda x, y: F.struct(
                F.least(x, y).alias("w1"), F.greatest(x, y).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def cooccurrence_counts(docs: DataFrame, window: int = COOCCUR_WINDOW) -> DataFrame:
    """(w1, w2, pair_count) for unordered token pairs within +-window
    positions; w1 <= w2 lexicographically so each pair has one key."""
    toks = _tokens_rel(docs)
    pair_arrays = [_offset_pairs(j) for j in range(1, window + 1)]
    return (
        explode_nonnull(toks, [], F.concat(*pair_arrays), "p")
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def cooccurrence_pmi(
    docs: DataFrame,
    window: int = COOCCUR_WINDOW,
    min_count: int = MIN_PAIR_COUNT,
) -> DataFrame:
    """Pointwise mutual information per co-occurring pair:
    pmi = ln( p(w1,w2) / (p(w1) p(w2)) ) with pair probabilities over
    the windowed-pair multiset and unigram probabilities over tokens.

    Both totals broadcast (single-row aggregates of tiny relations);
    the expression sequence is identical in the oracle, so the double
    arithmetic is bit-reproducible across engines (base.py rules)."""
    pairs = cooccurrence_counts(docs, window=window).filter(
        F.col("pair_count") >= min_count
    )
    uni = (
        explode_nonnull(_tokens_rel(docs), [], "ts", "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
    )
    # Unfiltered pair total: probabilities are over the full pair
    # multiset, not the min_count-filtered one (oracle mirrors).
    all_pairs = cooccurrence_counts(docs, window=window)
    c_pair = all_pairs.agg(F.sum("pair_count").alias("c_pair"))
    c_tok = uni.agg(F.sum("token_count").alias("c_tok"))
    ua = uni.select(F.col("token").alias("w1"), F.col("token_count").alias("c_a"))
    ub = uni.select(F.col("token").alias("w2"), F.col("token_count").alias("c_b"))
    p_ab = F.col("pair_count").cast("double") / F.col("c_pair")
    p_a = F.col("c_a").cast("double") / F.col("c_tok")
    p_b = F.col("c_b").cast("double") / F.col("c_tok")
    return (
        pairs.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(c_pair))
        .crossJoin(F.broadcast(c_tok))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(F.log(p_ab / (p_a * p_b)), 6).alias("pmi"),
        )
    )


_PMI_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
offsets AS (SELECT unnest(generate_series(1, {COOCCUR_WINDOW})) AS j),
pidx AS (
  SELECT ts, j, unnest(generate_series(1, greatest(len(ts) - j, 0))) AS i
  FROM toks, offsets
),
allpairs AS (
  SELECT least(ts[i], ts[i+j]) AS w1, greatest(ts[i], ts[i+j]) AS w2,
         COUNT(*) AS pair_count
  FROM pidx GROUP BY 1, 2
),
uni AS (
  SELECT unnest(ts) AS token FROM toks
),
unic AS (SELECT token, COUNT(*) AS token_count FROM uni GROUP BY token),
tot AS (
  SELECT (SELECT SUM(pair_count) FROM allpairs) AS c_pair,
         (SELECT SUM(token_count) FROM unic) AS c_tok
)
SELECT p.w1, p.w2, p.pair_count,
       ROUND(ln((p.pair_count::DOUBLE / t.c_pair)
                / ((a.token_count::DOUBLE / t.c_tok)
                   * (b.token_count::DOUBLE / t.c_tok))), 6) AS pmi
FROM allpairs p
JOIN unic a ON a.token = p.w1
JOIN unic b ON b.token = p.w2
CROSS JOIN tot t
WHERE p.pair_count >= {MIN_PAIR_COUNT}
"""


def phrase_search(docs: DataFrame, phrase: tuple[str, ...] = PHRASE) -> DataFrame:
    """Documents containing `phrase` as consecutive normalized tokens:
    (doc_id, n_hits, first_pos). Pure array-side scan — no shuffle."""
    n = len(phrase)
    toks = _tokens_rel(docs)

    def is_hit(i: Column) -> Column:
        cond = None
        for k, w in enumerate(phrase):
            c = F.element_at("ts", i + F.lit(k)) == F.lit(w)
            cond = c if cond is None else cond & c
        return cond

    hits = F.filter(_positions(F.size("ts") - (n - 1)), is_hit)
    return (
        toks.select(
            "doc_id",
            F.size(hits).cast("long").alias("n_hits"),
            F.element_at(hits, 1).cast("long").alias("first_pos"),
        )
        .filter(F.col("n_hits") > 0)
    )


def _phrase_oracle(phrase: tuple[str, ...] = PHRASE) -> str:
    n = len(phrase)
    cond = " AND ".join(
        f"ts[i+{k}] = '{w}'" for k, w in enumerate(phrase)
    )
    return f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
hits AS (
  SELECT doc_id,
         list_filter(generate_series(1, greatest(len(ts) - {n - 1}, 0)),
                     i -> {cond}) AS hs
  FROM toks
)
SELECT doc_id, len(hs)::BIGINT AS n_hits, hs[1]::BIGINT AS first_pos
FROM hits WHERE len(hs) > 0
"""


POSTING_SHARD_BLOCK = 128  # docs per posting shard (doc-partitioned index)


def _shard(col: str = "doc_id", block: int = POSTING_SHARD_BLOCK) -> Column:
    """Deterministic doc-range shard key: doc_id // block. Range (not
    hash) sharding keeps consecutive doc ids together, so within-shard
    gap encoding preserves the small-delta property the compression
    relies on. Integer `div` (not a float divide + cast) so the key is
    exact for any block size across the full NON-NEGATIVE 64-bit id
    domain, matching the oracles' `doc_id // block` there. Spark's
    `div` truncates toward zero while Python's `//` floors, so the two
    diverge for NEGATIVE ids — doc ids are non-negative by the corpus
    contract (manifest ordinals and synthesized ids start at 0/1).
    The contract is ENFORCED here, not assumed: a negative OR NULL id
    raises executor-side (one comparison per row, no extra job) instead
    of silently diverging from the `//`-floored oracle. NULL takes the
    same otherwise-branch (`NULL >= 0` is NULL, not true), so the
    message names both violations rather than misdiagnosing a NULL as
    negative (ADVICE r10)."""
    return F.when(F.col(col) >= 0, F.expr(f"{col} div {block}")).otherwise(
        F.raise_error(
            F.lit(
                f"negative or NULL {col}: violates the non-negative "
                "corpus id contract (Spark `div` truncates, oracle `//` "
                "floors — results would silently diverge; NULL ids have "
                "no shard)"
            )
        )
    )


def _posting_keys(block: int | None) -> tuple[list[Column], list[str], str]:
    """(shard select columns, extra group keys, count-name suffix) for
    one posting builder: none for the whole-list index, or shard_id =
    doc_id // block with the per-shard `_part` counts."""
    if block is None:
        return [], [], ""
    return [_shard(block=block).alias("shard_id")], ["shard_id"], "_part"


def _postings_sql(block: int | None) -> tuple[str, str, str, str]:
    """Oracle twin of `_posting_keys`: (shard select item, window
    partition suffix, group-key suffix, count-name suffix)."""
    if block is None:
        return "", "", "", ""
    return f", doc_id // {block} AS shard_id", f", doc_id // {block}", ", shard_id", "_part"


def _positional_postings(docs: DataFrame, block: int | None) -> DataFrame:
    """(word[, shard_id], n_postings[_part], postings) — the one
    positional-posting builder behind `positional_index` (block None)
    and `sharded_positional_index`."""
    shard, keys, suffix = _posting_keys(block)
    tok = posexplode_nonnull(
        _tokens_rel(docs), ["doc_id"], "ts", "pos0", "word"
    ).select("doc_id", *shard, (F.col("pos0") + 1).alias("pos"), "word")
    posting = F.array_sort(F.collect_list(F.struct("doc_id", "pos")))
    return tok.groupBy("word", *keys).agg(
        F.count(F.lit(1)).alias(f"n_postings{suffix}"),
        F.array_join(
            F.transform(
                posting,
                lambda s: F.concat_ws(":", s["doc_id"], s["pos"]),
            ),
            ",",
        ).alias("postings"),
    )


def _positional_oracle(block: int | None = None) -> str:
    shard, _, key, suffix = _postings_sql(block)
    return f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks
),
tok AS (SELECT doc_id{shard}, i AS pos, ts[i] AS word FROM idx)
SELECT word{key}, COUNT(*) AS n_postings{suffix},
       string_agg(doc_id::VARCHAR || ':' || pos::VARCHAR, ','
                  ORDER BY doc_id, pos) AS postings
FROM tok GROUP BY word{key}
"""


def _gap_postings(docs: DataFrame, block: int | None) -> DataFrame:
    """(word[, shard_id], df[_part], gaps) — the one gap-encoded
    posting builder behind `delta_postings` (block None) and
    `sharded_delta_postings`; the lag window partitions by the same
    keys as the aggregation, so a shard's stream restarts from its
    first raw doc id."""
    from pyspark.sql.window import Window

    shard, keys, suffix = _posting_keys(block)
    ids = explode_nonnull(
        _tokens_rel(docs), ["doc_id"], F.array_distinct("ts"), "word"
    ).distinct().select("*", *shard)
    w = Window.partitionBy("word", *keys).orderBy("doc_id")
    g = ids.withColumn(
        "gap", F.coalesce(F.col("doc_id") - F.lag("doc_id", 1).over(w), F.col("doc_id"))
    )
    posting = F.array_sort(F.collect_list(F.struct("doc_id", "gap")))
    return g.groupBy("word", *keys).agg(
        F.count(F.lit(1)).cast("long").alias(f"df{suffix}"),
        F.array_join(
            F.transform(posting, lambda s: s["gap"].cast("string")), ","
        ).alias("gaps"),
    )


def _delta_oracle(block: int | None = None) -> str:
    shard, part, key, suffix = _postings_sql(block)
    return f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
ids AS (SELECT DISTINCT doc_id, unnest(ts) AS word FROM toks),
g AS (
  SELECT word, doc_id{shard},
         COALESCE(doc_id - lag(doc_id) OVER (PARTITION BY word{part} ORDER BY doc_id),
                  doc_id) AS gap
  FROM ids
)
SELECT word{key}, COUNT(*)::BIGINT AS df{suffix},
       string_agg(gap::VARCHAR, ',' ORDER BY doc_id) AS gaps
FROM g GROUP BY word{key}
"""


def positional_index(docs: DataFrame) -> DataFrame:
    """Positional inverted index: (word, n_postings, postings) with
    postings = "doc:pos,doc:pos,..." sorted by (doc_id, pos), 1-based
    positions over the normalized token sequence — the reference's
    word->{file_id} index extended with in-document positions."""
    return _positional_postings(docs, None)


def delta_postings(docs: DataFrame) -> DataFrame:
    """Gap-encoded inverted index: (word, df, gaps) where gaps is the
    CSV of successive doc-id deltas (first entry = raw doc id). Gap
    encoding is the classic posting-list compression step — deltas are
    small, so a varint/bit-packed layout stores them in a fraction of
    the raw-id width; this emits the delta stream itself, which IS the
    compressed representation modulo byte packing.

    Shape: one distinct (word, doc_id) relation, a per-word lag window
    for the deltas (sort only within each word's postings), one keyed
    aggregation. No arrays of the whole corpus, no global sort."""
    return _gap_postings(docs, None)


def sharded_positional_index(
    docs: DataFrame, block: int = POSTING_SHARD_BLOCK
) -> DataFrame:
    """Doc-partitioned positional index: (word, shard_id,
    n_postings_part, postings) with each row covering only the docs in
    one doc-id range shard of `block` documents — the runnable form of
    the cap-or-shard answer the module docstring gives for hot posting
    keys. A stop word's postings are spread over corpus/block rows of
    ≤ block documents each instead of ONE corpus-sized row, so no
    aggregation group, shuffle key, or output cell grows with the
    corpus; the full posting list is the shard_id-ordered
    concatenation (shard_id = doc_id // block is order-preserving).

    Same posting format and (doc_id, pos) order as `positional_index`;
    the unsharded variant stays registered as the truth/debug tool."""
    return _positional_postings(docs, block)


def sharded_delta_postings(
    docs: DataFrame, block: int = POSTING_SHARD_BLOCK
) -> DataFrame:
    """Doc-partitioned gap-encoded postings: (word, shard_id, df_part,
    gaps), each shard's gap stream restarting from the raw doc id (the
    standard doc-partitioned layout — every shard is independently
    decodable, which is also what lets a 1000-executor scan decode
    shards in parallel). The per-word lag window partitions by
    (word, shard_id), so no window group exceeds `block` rows even for
    stop words — the keyed-window analogue of the grouped_topk fix.

    Full-list equivalence: concatenating a word's shards in shard_id
    order and cumulative-summing within each shard reproduces exactly
    the doc ids of `delta_postings`."""
    return _gap_postings(docs, block)


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k terms per document by smoothed tf-idf:
    idf = round(ln((N+1)/(df+1)), 6), weight = round(tf * idf, 6).

    idf is rounded BEFORE the tf multiply so the ranking key is a
    deterministic function of the exact integer (tf, df, N) triple in
    both engines; ties break on the term itself."""
    tok = explode_nonnull(_tokens_rel(docs), ["doc_id"], "ts", "term")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log(
            (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("df") + F.lit(1)).cast("double")
        ),
        6,
    )
    weighted = (
        tf.join(F.broadcast(df_rel), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.col("rank").cast("long").alias("rank"), "tfidf")
    )


_TFIDF_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
weighted AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ROUND(ln((nd.n_docs + 1)::DOUBLE / (dfr.df + 1)::DOUBLE), 6), 6) AS tfidf
  FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM weighted
)
SELECT doc_id, term, rank::BIGINT AS rank, tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


BM25_QUERY = ("hash", "join", "dup")  # two common terms + one rare (df≈5%)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def _bm25_term_scores(
    docs: DataFrame, keep_terms: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, Column]:
    """The BM25 term-score core shared by `bm25_search` and
    `bm25_multi_search`: (tf ⋈ df × totals, part) where `part` is the
    rounded per-(doc, term) score over that relation's columns and
    `keep_terms(tok)` is the operator's own query-term filter on the
    exploded (doc_id, dl, term) token stream.

    The corpus is tokenized TWICE (once for the (n_docs, total_tokens)
    scalars, once for the postings path) — in a standing deployment
    those corpus statistics live in the index metadata and only the
    postings pass remains."""
    base = spread(docs).select("doc_id", tokenize_normalized("text").alias("ts"))
    # total_tokens: null_safe_size so a NULL-text doc contributes
    # nothing (non-ANSI size(NULL) is -1; the oracle's SUM skips NULL).
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(null_safe_size(F.col("ts"))).alias("total_tokens"),
    )
    tok = keep_terms(
        explode_nonnull(base, ["doc_id", F.size("ts").alias("dl")], "ts", "term")
    )
    # tf is consumed twice (df derivation + the scored join input) and
    # sits downstream of the tokenize+explode pass — cache it (2-4
    # narrow columns, bounded by docs-matching-a-query-term) so the
    # corpus is not re-tokenized per consumer; same pattern as
    # dedup._shingle_pair_overlap's cached shingle relation.
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf")).cache()
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    lr = F.round(
        (F.col("dl") * F.col("n_docs")).cast("double")
        / F.col("total_tokens").cast("double"),
        6,
    )
    tfd = F.col("tf").cast("double")
    part = F.round(
        idf
        * (
            (tfd * F.lit(BM25_K1 + 1.0))
            / (tfd + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * lr))
        ),
        6,
    ).cast("decimal(12,6)")
    return tf.join(F.broadcast(dfr), "term").crossJoin(F.broadcast(totals)), part


def _bm25_parts_sql(term_set: str, keys: str) -> str:
    """Oracle twin of `_bm25_term_scores`: the CTEs `toks` through
    `parts` (`keys`, `part`), keeping tf rows whose term is IN
    `term_set`."""
    k1 = BM25_K1
    b = BM25_B
    return f"""toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
totals AS (SELECT COUNT(*) AS n_docs, SUM(len(ts)) AS total_tokens FROM toks),
tok AS (
  SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
  WHERE term IN ({term_set}) GROUP BY doc_id, dl, term
),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
parts AS (
  SELECT {keys},
         CAST(ROUND(
           ROUND(ln(((n_docs - df)::DOUBLE + 0.5::DOUBLE) / (df::DOUBLE + 0.5::DOUBLE) + 1.0::DOUBLE), 6)
           * ((tf::DOUBLE * {k1 + 1.0!r}::DOUBLE)
              / (tf::DOUBLE + {k1!r}::DOUBLE *
                 ({1.0 - b!r}::DOUBLE + {b!r}::DOUBLE *
                  ROUND((dl * n_docs)::DOUBLE / total_tokens::DOUBLE, 6)))),
         6) AS DECIMAL(12,6)) AS part
  FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN totals
),"""


def bm25_search(docs: DataFrame, terms: tuple[str, ...] = BM25_QUERY, k: int = BM25_TOP_K) -> DataFrame:
    """BM25 top-k retrieval for a fixed query term set — the ranking
    function production corpus search runs over the inverted index the
    reference builds (tema1a/src/main.cpp word→{file_id}; this adds tf,
    doc-length normalization, and the Robertson/Sparck-Jones idf).

    Determinism: idf and the per-term partial score are each rounded to
    6 decimals, per-doc totals are summed as exact decimals, and every
    float literal is an explicit DOUBLE in both engines (DuckDB parses
    bare `2.2` as DECIMAL, which would change the arithmetic). All
    divisions are single double ops on identical operands, so the
    ranking keys are bit-equal cross-engine.

    Scale: the term filter lands right after the tokenizer, so only
    postings for the |Q| query terms survive to the shuffle — tf is
    O(docs-containing-a-query-term), df and the (N, total_tokens)
    scalars are broadcast, and the final top-k is a TakeOrderedAndProject
    over the scored docs (per-task k-row heap — safe even when a query
    term is a stop word and the scored relation is corpus-sized)."""
    joined, part = _bm25_term_scores(
        docs, lambda tok: tok.filter(F.col("term").isin(list(terms)))
    )
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum(part).cast("double").alias("score"),
    )
    # Global top-k via TakeOrderedAndProject (per-task bounded heap) —
    # no unpartitioned window ever sees the scored relation, which is
    # corpus-sized in the worst case (a stop-word query term).
    return ranked_topk(
        scored, (F.desc("score"), F.asc("doc_id")), k, "rank"
    ).select("rank", "doc_id", "n_terms_matched", "score")


def _bm25_oracle(terms: tuple[str, ...] = BM25_QUERY, k: int = BM25_TOP_K) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_bm25_parts_sql(term_list, "tf.doc_id")}
scored AS (
  SELECT doc_id, COUNT(*) AS n_terms_matched, SUM(part)::DOUBLE AS score
  FROM parts GROUP BY doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS rank,
       doc_id, n_terms_matched, score
FROM scored
QUALIFY rank <= {k}
"""


# Registry probe set for the parameterized variant: three queries of
# mixed length/rarity (q0 reproduces BM25_QUERY so the two operators
# can be cross-checked term-for-term).
BM25_MULTI_QUERY_SET: tuple[tuple[int, str], ...] = (
    (0, "hash"), (0, "join"), (0, "dup"),
    (1, "sort"), (1, "group"),
    (2, "row"), (2, "part"), (2, "merge"),
)


def bm25_multi_search(
    docs: DataFrame, queries: DataFrame, k: int = BM25_TOP_K
) -> DataFrame:
    """BM25 top-k retrieval for a RELATION of queries — the
    generalization of `bm25_search`'s fixed probe: `queries` is a small
    dim (query_id LONG, term STRING); the result is the per-query top-k
    (query_id, rank, doc_id, n_terms_matched, score).

    Scoring is identical to `bm25_search` (the same term-score core),
    and per-term df depends only on the corpus, so a doc's score for a
    query equals its `bm25_search` score for the same term set —
    asserted in tests. Repeated (query_id, term) rows are deduplicated
    (query = term SET).

    Scale: the query relation is a classic broadcast dim. The corpus
    tokenizer output is semi-joined against the DISTINCT term set
    (broadcast) so only postings for queried terms survive to any
    shuffle; (term, doc) partial scores are computed ONCE per term-doc
    and then expanded per query by a second broadcast join — |Q| never
    multiplies the tokenize/aggregate work, only the final small score
    expansion. The per-query top-k goes through two-stage
    `grouped_topk` salted on doc_id: a plain window partitioned by
    query_id would funnel each query's ENTIRE matched-doc set through
    one task — corpus-sized when a query term is a stop word (the exact
    hazard `bm25_search` avoids with TakeOrderedAndProject and the ANN
    family avoids with the same grouped_topk shape). Output is
    identical to the single-window form because (score DESC, doc_id
    ASC) is a total order per query."""
    qset = queries.select("query_id", "term").distinct()
    qterms = qset.select("term").distinct()
    joined, part = _bm25_term_scores(
        docs, lambda tok: tok.join(F.broadcast(qterms), "term")
    )
    scored = (
        joined.withColumn("part", part)
        .join(F.broadcast(qset), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("part").cast("double").alias("score"),
        )
    )
    return grouped_topk(
        scored,
        ["query_id"],
        (F.desc("score"), F.asc("doc_id")),
        k,
        salt_on="doc_id",
    ).select("query_id", "rank", "doc_id", "n_terms_matched", "score")


def _bm25_multi_docs(spark, sf_dir):
    queries = local_frame(spark, BM25_MULTI_QUERY_SET, "query_id LONG, term STRING")
    return bm25_multi_search(_docs(spark, sf_dir), queries)


def _bm25_multi_oracle(
    query_set: tuple[tuple[int, str], ...] = BM25_MULTI_QUERY_SET,
    k: int = BM25_TOP_K,
) -> str:
    values = ", ".join(f"({qid}, '{t}')" for qid, t in query_set)
    return f"""
WITH qset AS (
  SELECT DISTINCT query_id::BIGINT AS query_id, term
  FROM (VALUES {values}) q(query_id, term)
),
{_bm25_parts_sql("SELECT term FROM qset", "tf.doc_id, tf.term")}
scored AS (
  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms_matched,
         SUM(p.part)::DOUBLE AS score
  FROM parts p JOIN qset q ON q.term = p.term
  GROUP BY q.query_id, p.doc_id
)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::BIGINT AS rank,
       doc_id, n_terms_matched, score
FROM scored
QUALIFY rank <= {k}
"""


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram language-model fluency score: mean log10 of the corpus
    conditional probability p(w2 | w1) = c(w1,w2) / c(w1,·) over each
    doc's adjacent token pairs — one notch above the unigram score in
    textstats (which ignores order entirely). Docs with fewer than two
    tokens have no bigrams and drop out, same as the oracle.

    Determinism: each log10 is rounded to 6 decimals and summed as
    exact decimals; the conditional ratio itself is one scalar double
    division of exact integer counts.

    Scale: bigrams come from zipping the token array with its own
    1-shifted slice (array-side, codegen, zero shuffle); the bigram and
    predecessor-count relations are vocabulary²-bounded aggregates,
    broadcast back onto the pair stream."""
    toks = _tokens_rel(docs).filter(F.size("ts") >= 2)
    big = explode_nonnull(
        toks,
        ["doc_id"],
        F.arrays_zip(
            F.slice(F.col("ts"), 1, F.size("ts") - 1).alias("w1"),
            F.slice(F.col("ts"), 2, F.size("ts") - 1).alias("w2"),
        ),
        "bg",
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    stats = c2.join(F.broadcast(c1), "w1")
    log_dec = F.round(
        F.log10(F.col("c2").cast("double") / F.col("c1").cast("double")), 6
    ).cast("decimal(12,6)")
    return (
        big.join(F.broadcast(stats), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(log_dec).cast("double") / F.count(F.lit(1))).alias(
                "mean_log10_cond"
            ),
        )
    )


_BIGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
  FROM toks WHERE len(ts) >= 2
),
big AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM idx),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(ROUND(log10(CAST(s.c2 AS DOUBLE) / CAST(c.c1 AS DOUBLE)), 6)
                     AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*) AS mean_log10_cond
FROM big b
JOIN c2 s ON s.w1 = b.w1 AND s.w2 = b.w2
JOIN c1 c ON c.w1 = b.w1
GROUP BY b.doc_id
"""


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


COOCCUR_QUERIES = [
    QueryDef("text_cooccurrence_pmi", lambda s, d: cooccurrence_pmi(_docs(s, d)), _PMI_ORACLE),
    QueryDef("text_phrase_search", lambda s, d: phrase_search(_docs(s, d)), _phrase_oracle()),
    QueryDef("text_positional_index", lambda s, d: positional_index(_docs(s, d)), _positional_oracle()),
    QueryDef("text_tfidf_top_terms", lambda s, d: tfidf_top_terms(_docs(s, d)), _TFIDF_ORACLE),
    QueryDef("text_postings_delta", lambda s, d: delta_postings(_docs(s, d)), _delta_oracle()),
    QueryDef(
        "text_positional_index_sharded",
        lambda s, d: sharded_positional_index(_docs(s, d)),
        _positional_oracle(POSTING_SHARD_BLOCK),
    ),
    QueryDef(
        "text_postings_delta_sharded",
        lambda s, d: sharded_delta_postings(_docs(s, d)),
        _delta_oracle(POSTING_SHARD_BLOCK),
    ),
    QueryDef("text_bigram_logprob", lambda s, d: bigram_logprob(_docs(s, d)), _BIGRAM_ORACLE),
    QueryDef("text_bm25_search", lambda s, d: bm25_search(_docs(s, d)), _bm25_oracle()),
    QueryDef("text_bm25_multi_search", _bm25_multi_docs, _bm25_multi_oracle()),
]
