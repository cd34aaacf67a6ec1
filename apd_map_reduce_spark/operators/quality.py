"""Repetition-based quality signals (Gopher/C4-style filters for
training-data curation; extends the reference's text surface the same
way operators/textstats does — SURVEY.md §2.2 stops at
tokenize+normalize).

The signals: token count, distinct-token ratio, most-frequent-token
fraction, and most-frequent-bigram fraction — the standard "is this
document degenerate boilerplate / a repetition loop?" features used to
filter LLM pretraining corpora.

Scale design: explode → groupBy(doc_id, token) → per-doc aggregate.
This SHUFFLES token-count rows, and it is still the right plan: the
array-internal alternative (array_sort + an `aggregate` max-run-length
fold, kept below as `max_run_length` for array-sized inputs) avoids the
shuffle but Spark evaluates higher-order-function lambdas INTERPRETED,
outside whole-stage codegen — measured 38.5 s vs 1.4 s at sf0.1
(5,000 docs), the same 14-27x penalty recorded for the MinHash
array-side prototype (NOTES_r3). Keys are (doc_id, token): uniform,
skew-free, map-side partial aggregation applies. The DuckDB oracle
uses the same formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    PUNCT,
    PUNCT_SQL,
    TOKENS_SQL,
    WS_COUNT_SQL,
    tokenize_normalized,
    ws_token_count,
)
from apd_map_reduce_spark.operators.dedup import word_shingles
from apd_map_reduce_spark.plans.layout import explode_nonnull, spread
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table


def max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements (= max element count when
    the array is sorted). A left fold with a (prev, run, best) struct
    accumulator; 0 for empty arrays."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, merge, lambda acc: acc["best"])


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-doc repetition features over normalized tokens (same
    normalization as the dedup family, reference P1+P2).

    Docs whose normalization yields ZERO tokens are absent from the
    result (exactly the oracle's unnest semantics).

    Ratios are BIGINT/BIGINT divisions — deterministic doubles from
    identical integer operands on both engines (queries/base.py rules).
    """
    # spread() first (dedup-family rule, plans/layout.py): never let a
    # low-split scan serialize the CPU-bound tokenize stage.
    base = spread(docs).select("doc_id", tokenize_normalized("text").alias("ts"))
    tok = explode_nonnull(base, ["doc_id"], "ts", "tok")
    tc = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ta = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_token_n"),
    )
    big = explode_nonnull(base, ["doc_id"], word_shingles(F.col("ts"), 2), "b")
    bc = big.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    ba = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    joined = ta.join(ba, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce(F.col("top_bigram_n"), F.lit(0).cast("long")).alias("top_bigram_n"),
    )
    n_tokens = F.greatest(F.col("n_tokens"), F.lit(1))
    n_bigrams = F.greatest(F.col("n_bigrams"), F.lit(1))
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        "n_bigrams",
        "top_bigram_n",
        (F.col("n_distinct") / n_tokens).alias("distinct_token_ratio"),
        (F.col("top_token_n") / n_tokens).alias("top_token_frac"),
        (F.col("top_bigram_n") / n_bigrams).alias("top_bigram_frac"),
    )


REPETITION_ORACLE = f"""
WITH toksq AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS tok FROM toksq),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
ta AS (
  SELECT doc_id, SUM(c)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS n_distinct,
         MAX(c)::BIGINT AS top_token_n
  FROM tc GROUP BY 1
),
bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b
  FROM (SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
        FROM toksq)
),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
ba AS (SELECT doc_id, SUM(c)::BIGINT AS n_bigrams, MAX(c)::BIGINT AS top_bigram_n
       FROM bc GROUP BY 1)
SELECT ta.doc_id, n_tokens, n_distinct, top_token_n,
       COALESCE(n_bigrams, 0) AS n_bigrams,
       COALESCE(top_bigram_n, 0) AS top_bigram_n,
       n_distinct / greatest(n_tokens, 1) AS distinct_token_ratio,
       top_token_n / greatest(n_tokens, 1) AS top_token_frac,
       COALESCE(top_bigram_n, 0) / greatest(COALESCE(n_bigrams, 0), 1) AS top_bigram_frac
FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id
"""


# Gopher-style rule thresholds (Rae et al. 2021 Table A1 shape, bounds
# adapted to this corpus's short synthetic docs). Every rule compares
# INTEGER-EXACT counts cross-multiplied against rational thresholds —
# no float appears anywhere, so the booleans are trivially
# engine-identical.
GOPHER_MIN_TOKENS = 15
GOPHER_MAX_TOKENS = 100_000
_EN_STOP_PAT = r"(?i)\b(the|and|of|is|a)\b"


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Named Gopher-style document filter: per-doc boolean rule flags
    plus the conjunction (`passes_gopher`). Rules:
      * word count in [GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS];
      * mean word length in [3, 10] chars  (3*n_words <= n_alpha <= 10*n_words);
      * symbol-to-token ratio <= 0.1       (10*(digits+punct) <= n_tokens);
      * alphabetic-word ratio >= 0.8       (5*n_words >= 4*n_tokens);
      * at least 2 stopword hits.

    Scale: a single narrow projection (regexp counts + integer
    comparisons), whole-stage codegen, no shuffle, prunes to
    (doc_id, text)."""
    n_tokens = ws_token_count("text")
    n_words = F.regexp_count("text", F.lit("[A-Za-z]+")).cast("long")
    n_alpha = F.regexp_count("text", F.lit("[A-Za-z]")).cast("long")
    n_digits = F.regexp_count("text", F.lit("[0-9]")).cast("long")
    n_punct = F.regexp_count("text", F.lit(PUNCT)).cast("long")
    n_stop = F.regexp_count("text", F.lit(_EN_STOP_PAT)).cast("long")
    counts = spread(docs).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha"),
        n_digits.alias("n_digits"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
    )
    r_count = (F.col("n_tokens") >= GOPHER_MIN_TOKENS) & (
        F.col("n_tokens") <= GOPHER_MAX_TOKENS
    )
    r_wordlen = (3 * F.col("n_words") <= F.col("n_alpha")) & (
        F.col("n_alpha") <= 10 * F.col("n_words")
    )
    r_symbol = 10 * (F.col("n_digits") + F.col("n_punct")) <= F.col("n_tokens")
    r_alpha = 5 * F.col("n_words") >= 4 * F.col("n_tokens")
    r_stop = F.col("n_stop") >= 2
    return counts.select(
        "doc_id",
        "n_tokens",
        r_count.alias("ok_token_count"),
        r_wordlen.alias("ok_word_length"),
        r_symbol.alias("ok_symbol_ratio"),
        r_alpha.alias("ok_alpha_ratio"),
        r_stop.alias("ok_stopwords"),
        (r_count & r_wordlen & r_symbol & r_alpha & r_stop).alias("passes_gopher"),
    )


GOPHER_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         {WS_COUNT_SQL} AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits,
         len(regexp_extract_all(text, '{PUNCT_SQL}')) AS n_punct,
         len(regexp_extract_all(text, '{_EN_STOP_PAT}')) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
       n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
         AS ok_token_count,
       3 * n_words <= n_alpha AND n_alpha <= 10 * n_words AS ok_word_length,
       10 * (n_digits + n_punct) <= n_tokens AS ok_symbol_ratio,
       5 * n_words >= 4 * n_tokens AS ok_alpha_ratio,
       n_stop >= 2 AS ok_stopwords,
       (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS})
         AND (3 * n_words <= n_alpha AND n_alpha <= 10 * n_words)
         AND (10 * (n_digits + n_punct) <= n_tokens)
         AND (5 * n_words >= 4 * n_tokens)
         AND (n_stop >= 2) AS passes_gopher
FROM c
"""


QUALITY_QUERIES = [
    QueryDef(
        "text_repetition_signals",
        lambda s, d: repetition_signals(load_table(s, d, "documents")),
        REPETITION_ORACLE,
    ),
    QueryDef(
        "text_gopher_rules",
        lambda s, d: gopher_rules(load_table(s, d, "documents")),
        GOPHER_ORACLE,
    ),
]
