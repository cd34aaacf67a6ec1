"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, fingerprinting (driver mandate; the
reference's text surface stops at tokenize+normalize, SURVEY.md §2.2 —
these extend it with the same JVM-side, UDF-free discipline).

Scale: every operator here is a narrow per-row projection — no shuffle,
no UDF, whole-stage codegen end-to-end. At 100 TB these run at scan
speed and column-prune to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apd_map_reduce_spark.functions.text import (
    PUNCT,
    PUNCT_SQL,
    TOKENS_SQL,
    WS_COUNT_SQL,
    hash60,
    hash60_sql,
    tokenize_normalized,
    ws_token_count,
)
from apd_map_reduce_spark.plans.layout import explode_nonnull, spread
from apd_map_reduce_spark.queries.base import QueryDef, ranked_topk
from apd_map_reduce_spark.sources.tables import load_table

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and oracle-expressible; accuracy is secondary to having
# a scalable language-ID shape (real pipelines swap in fastText etc.).
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "las", "una", "es"],
}

_WORD_RE = "[A-Za-z]+"


def _marker_count(text_col: str, words: list[str]) -> F.Column:
    """Count marker-word occurrences via one word-boundary regex."""
    pattern = r"(?i)\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.col(text_col), F.lit(pattern))


def _count_features() -> list[F.Column]:
    """The integer-exact per-doc counts over `text`: n_tokens =
    whitespace tokens; n_words = alphabetic runs (a BPE-ish
    pre-tokenization proxy); n_chars; digit and punctuation counts.
    All cast to long — DuckDB len()/length() are BIGINT and the driver
    compares schemas, not just values."""
    return [
        ws_token_count("text").alias("n_tokens"),
        F.regexp_count("text", F.lit(_WORD_RE)).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count("text", F.lit("[0-9]")).cast("long").alias("n_digits"),
        F.regexp_count("text", F.lit(PUNCT)).cast("long").alias("n_punct"),
    ]


# DuckDB twin of `_count_features()`: the same five counts, same names.
_COUNT_FEATURES_SQL = f"""{WS_COUNT_SQL} AS n_tokens,
       len(regexp_extract_all(text, '{_WORD_RE}')) AS n_words,
       length(text) AS n_chars,
       len(regexp_extract_all(text, '[0-9]')) AS n_digits,
       len(regexp_extract_all(text, '{PUNCT_SQL}')) AS n_punct"""


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token/char counts — integer-exact features."""
    # spread() first (dedup-family rule): the regexp counts are per-row
    # CPU a low-split scan would serialize into one task.
    return spread(docs).select("doc_id", *_count_features())


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score (all arithmetic on
    integer-exact counts → deterministic doubles cross-engine).

    ONE spread projection, not token_stats ⋈ stopwords: every feature
    is a regexp/length count over the same text column, so the join
    the old shape planned (two exchanges of the text + a doc_id
    shuffle) bought nothing — measured at sf0.1 inside
    corpus_clean_snapshot, the single-pass form removes the whole
    extra stage."""
    joined = spread(docs).select(
        "doc_id",
        *_count_features(),
        _marker_count("text", LANG_MARKERS["en"]).alias("n_stopwords"),
    )
    n_tokens = F.greatest(F.col("n_tokens"), F.lit(1))
    n_chars = F.greatest(F.col("n_chars"), F.lit(1))
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        (F.col("n_punct").cast("double") / n_chars).alias("punct_ratio"),
        (F.col("n_digits").cast("double") / n_chars).alias("digit_ratio"),
        (F.col("n_stopwords").cast("double") / n_tokens).alias("stopword_ratio"),
        (F.col("n_words").cast("double") / n_tokens).alias("alpha_token_ratio"),
    )


def _lang_argmax(docs: DataFrame, scores: dict[str, F.Column], hits: str) -> DataFrame:
    """(doc_id, pred_lang, <hits>): the argmax of the per-language
    `scores` (lang -> count Column over `text`) by (score DESC,
    lang ASC) — the one argmax both language-ID heuristics share."""
    scored = spread(docs).select(
        "doc_id",
        F.col("text").isNotNull().alias("_has_text"),
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
    )
    # argmax by (score DESC, lang ASC): array_sort ascending on
    # (score, -lang_rank) structs, take the last element — max score,
    # and among score ties the alphabetically-first language.
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{la}").alias("score"),
                F.lit(-rank).alias("neg_rank"),
                F.lit(la).alias("lang"),
            )
            for rank, la in enumerate(sorted(scores))
        ]
    )
    best = F.element_at(F.array_sort(pairs), -1)
    # NULL text → NULL prediction: the SQL twin's GREATEST/CASE ladder
    # propagates NULL, while array_sort would happily rank null-score
    # structs and invent a language for a row that has no text.
    return scored.select(
        "doc_id",
        F.when(F.col("_has_text"), best["lang"]).alias("pred_lang"),
        F.when(F.col("_has_text"), best["score"]).cast("long").alias(hits),
    )


def _lang_argmax_sql(scores: dict[str, str], hits: str) -> str:
    """Oracle twin of `_lang_argmax` (lang -> count SQL). CASE x WHEN
    picks the FIRST matching branch, so listing branches in lang-code
    ASC order implements the (score DESC, lang ASC) tie-break."""
    langs = sorted(scores)
    greatest = "GREATEST(" + ", ".join(f"score_{la}" for la in langs) + ")"
    ladder = " ".join(f"WHEN score_{la} THEN '{la}'" for la in langs)
    score_sql = ",\n    ".join(f"{sql} AS score_{la}" for la, sql in scores.items())
    return f"""
WITH s AS (SELECT doc_id,
    {score_sql}
  FROM documents)
SELECT doc_id, CASE {greatest} {ladder} END AS pred_lang, {greatest} AS {hits} FROM s
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-lexicon language guess; ties broken by language code ASC
    (deterministic). Emits the guess and the winning marker count."""
    return _lang_argmax(
        docs,
        {lang: _marker_count("text", ws) for lang, ws in LANG_MARKERS.items()},
        "marker_hits",
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 over the normalized token
    stream (lowercase alpha tokens joined by single spaces) — robust to
    case/punctuation/whitespace changes, byte-stable across engines."""
    normalized = F.array_join(tokenize_normalized("text"), " ")
    return spread(docs).select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("long").alias("norm_len"),
    )


# Character-trigram profiles per language (top discriminative trigrams
# from small public wordlists) — the literal "n-gram heuristic"
# language-ID. Deterministic constants, oracle-expressible.
TRIGRAM_PROFILES = {
    "en": ["the", "and", "ing", "ion", "ent"],
    "fr": ["les", "ent", "que", "ais", "eur"],
    "de": ["der", "ein", "sch", "ich", "und"],
    "es": ["que", "era", "ado", "los", "nte"],
}


def lang_id_ngram(docs: DataFrame) -> DataFrame:
    """Char-trigram-profile language guess (complement to the
    stopword-marker `lang_id`); same deterministic argmax machinery."""
    lowered = F.lower(F.col("text"))
    return _lang_argmax(
        docs,
        {
            lang: sum(
                (F.length(lowered) - F.length(F.replace(lowered, F.lit(tri), F.lit(""))))
                / F.lit(3)
                for tri in tris
            ).cast("long")
            for lang, tris in TRIGRAM_PROFILES.items()
        },
        "trigram_hits",
    )


def _lang_ngram_oracle() -> str:
    return _lang_argmax_sql(
        {
            lang: "CAST(("
            + " + ".join(
                f"(length(lower(text)) - length(replace(lower(text), '{tri}', ''))) / 3"
                for tri in tris
            )
            + ") AS BIGINT)"
            for lang, tris in TRIGRAM_PROFILES.items()
        },
        "trigram_hits",
    )


# GPT-2-style pre-tokenizer shape, ASCII-anchored for cross-engine
# parity (contractions | space-prefixed letter runs | digit runs |
# punctuation runs). Real BPE merges happen on top of this split.
_BPE_WORDS = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?"
BPE_SPLIT_RE = _BPE_WORDS + PUNCT + "+"
BPE_SPLIT_SQL = _BPE_WORDS + PUNCT_SQL + "+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex alongside the
    plain whitespace count — the two standard length signals for
    training-data budgeting."""
    return spread(docs).select(
        "doc_id",
        ws_token_count("text").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_SPLIT_RE)).cast("long").alias("n_bpe_tokens"),
    )


BPE_TOKENS_ORACLE = f"""
SELECT doc_id,
       {WS_COUNT_SQL} AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_SPLIT_SQL.replace("'", "''")}')) AS n_bpe_tokens
FROM documents
"""


BPE_TOP_PAIRS = 50


def bpe_merge_pairs(docs: DataFrame, top_n: int = BPE_TOP_PAIRS) -> DataFrame:
    """First BPE merge iteration (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units", arXiv:1508.07909):
    corpus-weighted frequencies of adjacent character pairs over the
    WORD VOCABULARY — the statistic a BPE trainer maximizes to choose
    each merge. `bpe_token_counts` measures with a finished tokenizer;
    this is the aggregation that trains one.

    Emits the top `top_n` merge candidates as (left_sym, right_sym,
    pair_count, rnk), ranked (count DESC, left ASC, right ASC) — the
    deterministic argmax order; rnk 1 is the merge BPE would perform.

    Scale: the pair statistics run over (word, freq) — the vocabulary
    aggregate, not the token stream — which is the standard BPE trick
    making each merge iteration corpus-size-independent: the only
    corpus-sized shuffle is the word-frequency groupBy (uniform key,
    map-side partials). After normalization the symbol alphabet is
    [a-z], so the pair relation tops out at 676 rows; the ranking
    window is over that, not the corpus."""
    vocab = (
        explode_nonnull(spread(docs), [], tokenize_normalized("text"), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.split(F.col("word"), "")
    pair_structs = F.zip_with(
        F.slice(chars, 1, F.size(chars) - 1),
        F.slice(chars, 2, F.size(chars) - 1),
        lambda l, r: F.struct(l.alias("left_sym"), r.alias("right_sym")),
    )
    agg = (
        vocab.filter(F.length("word") >= 2)
        .select("freq", F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.left_sym").alias("left_sym"), F.col("p.right_sym").alias("right_sym"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    return ranked_topk(
        agg,
        (F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")),
        top_n,
        "rnk",
    )


BPE_MERGE_PAIRS_ORACLE = f"""
WITH tok AS (
  SELECT unnest({TOKENS_SQL}) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
pairs AS (
  SELECT substr(word, i, 1) AS left_sym, substr(word, i + 1, 1) AS right_sym, freq
  FROM vocab, unnest(generate_series(1, len(word) - 1)) AS t(i)
  WHERE len(word) >= 2
),
agg AS (
  SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM pairs GROUP BY left_sym, right_sym
),
ranked AS (
  SELECT left_sym, right_sym, pair_count,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_sym ASC, right_sym ASC) AS rnk
  FROM agg
)
SELECT left_sym, right_sym, pair_count, rnk FROM ranked WHERE rnk <= {BPE_TOP_PAIRS}
"""


WINNOW_K = 5  # char k-gram length
WINNOW_W = 4  # window of consecutive k-gram hashes


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash all char
    k-grams of the normalized text, take the min hash of every sliding
    window of w consecutive positions, dedup — a position-robust
    fingerprint set whose density is ~2/(w+1) regardless of doc length.

    Output: doc_id, n_fingerprints, fp_hash (md5 over the sorted set) —
    docs sharing fp_hash are near-certain duplicates; Jaccard over the
    sets gives graded similarity.
    """
    norm = F.array_join(tokenize_normalized("text"), " ")
    base = spread(docs).select("doc_id", norm.alias("t")).filter(
        F.length("t") >= WINNOW_K + WINNOW_W - 1
    )
    grams = explode_nonnull(
        base,
        ["doc_id", (F.length("t") - (WINNOW_K - 1)).alias("n_grams")],
        F.transform(
            F.sequence(F.lit(1), F.length("t") - (WINNOW_K - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                hash60(F.substring(F.col("t"), i, WINNOW_K)).alias("h"),
            ),
        ),
        "g",
    ).select("doc_id", "n_grams", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("pos"))
        .rowsBetween(0, WINNOW_W - 1)
    )
    mins = (
        grams.withColumn("wmin", F.min("h").over(w))
        # only full windows (standard winnowing)
        .filter(F.col("pos") <= F.col("n_grams") - (WINNOW_W - 1))
        .select("doc_id", "wmin")
        .distinct()
    )
    return mins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.md5(F.array_join(F.sort_array(F.collect_set("wmin")), " ")).alias("fp_hash"),
    )


WINNOW_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         array_to_string({TOKENS_SQL}, ' ') AS t
  FROM documents
),
base AS (SELECT doc_id, t, length(t) - {WINNOW_K - 1} AS n_grams FROM norm
         WHERE length(t) >= {WINNOW_K + WINNOW_W - 1}),
grams AS (
  SELECT doc_id, n_grams, unnest(generate_series(1, n_grams)) AS pos, t
  FROM base
),
hashed AS (
  SELECT doc_id, n_grams, pos,
         {hash60_sql(f"substr(t, pos, {WINNOW_K})")} AS h
  FROM grams
),
mins AS (
  SELECT DISTINCT doc_id, wmin FROM (
    SELECT doc_id, pos, n_grams,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ASC
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin
    FROM hashed
  ) WHERE pos <= n_grams - {WINNOW_W - 1}
)
SELECT doc_id, COUNT(*) AS n_fingerprints,
       md5(array_to_string(list_sort(list(DISTINCT wmin)), ' ')) AS fp_hash
FROM mins GROUP BY doc_id
"""


# --- QueryDefs + oracles -----------------------------------------------

def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       {_COUNT_FEATURES_SQL}
FROM documents
"""

_EN_PAT = r"(?i)\b(the|and|of|is|a)\b"

QUALITY_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
       {_COUNT_FEATURES_SQL},
       len(regexp_extract_all(text, '{_EN_PAT}')) AS n_stopwords
  FROM documents
)
SELECT doc_id, n_tokens, n_chars,
       CAST(n_punct AS DOUBLE) / GREATEST(n_chars, 1) AS punct_ratio,
       CAST(n_digits AS DOUBLE) / GREATEST(n_chars, 1) AS digit_ratio,
       CAST(n_stopwords AS DOUBLE) / GREATEST(n_tokens, 1) AS stopword_ratio,
       CAST(n_words AS DOUBLE) / GREATEST(n_tokens, 1) AS alpha_token_ratio
FROM s
"""

LANG_ID_ORACLE = _lang_argmax_sql(
    {
        la: "len(regexp_extract_all(text, '(?i)\\b(" + "|".join(ws) + ")\\b'))"
        for la, ws in LANG_MARKERS.items()
    },
    "marker_hits",
)

FINGERPRINT_ORACLE = f"""
WITH norm AS (
  -- DuckDB's array_to_string over an EMPTY list is NULL; Spark's
  -- array_join is ''. A zero-token doc's fingerprint is defined as
  -- md5('') (the empty content), so coalesce — but only for non-null
  -- text (NULL text stays NULL in both engines).
  SELECT doc_id,
         CASE WHEN text IS NOT NULL THEN COALESCE(array_to_string({TOKENS_SQL}, ' '), '')
         END AS n
  FROM documents
)
SELECT doc_id, md5(n) AS fingerprint, length(n) AS norm_len FROM norm
"""

def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram language-model score: mean log10 corpus frequency of a
    doc's tokens — the classic cheap fluency/perplexity proxy for
    quality filtering. Deterministic cross-engine: per-token logs are
    rounded to 6 decimals and summed as exact decimals (double
    summation order would drift).

    Scale: token→freq is a broadcast-able aggregate of the corpus
    itself (vocabulary-sized), joined back to the token stream."""
    tok = explode_nonnull(spread(docs), ["doc_id"], tokenize_normalized("text"), "token")
    freqs = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    log_dec = F.round(F.log10(F.col("freq").cast("double")), 6).cast("decimal(12,6)")
    return (
        tok.join(F.broadcast(freqs), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(log_dec).cast("double") / F.count(F.lit(1))).alias("mean_log10_freq"),
        )
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (bits) — the
    information-theoretic repetitiveness signal corpus filters pair
    with the repetition ratios (a doc of one repeated token scores 0;
    uniform vocabulary scores log2(n)).

    Determinism: entropy = (1/n) * sum_t c_t * log2(n / c_t). Each
    per-token log2 is rounded to 6 decimals then multiplied by the
    EXACT integer count and summed as decimals (double summation order
    would drift in the last ulp); the final division is one scalar
    double op — deterministic cross-engine.

    Scale: explode -> groupBy(doc, token) with map-side partial
    aggregation, then a per-doc window over the already-shuffled key —
    no second exchange (doc_id is a prefix of the grouping key)."""
    tok = explode_nonnull(spread(docs), ["doc_id"], tokenize_normalized("text"), "token")
    per_tok = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    with_n = per_tok.withColumn("n", F.sum("c").over(w))
    term = (
        F.round(F.log2(F.col("n").cast("double") / F.col("c").cast("double")), 6)
        .cast("decimal(12,6)")
        * F.col("c")
    )
    return with_n.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum(term).cast("double") / F.max("n")).alias("entropy_bits"),
    )


ZIPF_TOP_N = 1000


def zipf_fit(docs: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf law fit over the corpus vocabulary: least-squares slope and
    intercept of ln(freq) against ln(rank) for the top `top_n` terms —
    ONE row (n_terms, zipf_slope, zipf_intercept). Natural-language
    corpora sit near slope −1; a corpus whose slope drifts (template
    spam flattens it, deduplication steepens the head) fails the
    classic distributional sanity check curation pipelines run per
    snapshot (Zipf 1949; Piantadosi 2014 for the modern reading).

    Determinism: per-term ln's are rounded to 6 dp then cast to exact
    decimals; all four regression sums are exact decimal arithmetic
    (double summation order would drift), rounded to 6 dp (keeping the
    internal value < 2⁵³ so the double conversion is exact-path in
    both engines — queries/base.py `money` rationale), and the closed
    form is then a handful of deterministic double ops. Rank comes
    from `ranked_topk` (TakeOrderedAndProject — no unpartitioned
    window; the vocabulary never funnels through one task).

    Scale: vocabulary-sized aggregate of the token stream, then a
    bounded top-N and a single-row aggregate."""
    tok = explode_nonnull(spread(docs), [], tokenize_normalized("text"), "word")
    vocab = tok.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    ranked = ranked_topk(vocab, (F.desc("freq"), F.asc("word")), top_n, "rank")
    d6 = "decimal(12,6)"
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast(d6)
    y = F.round(F.log(F.col("freq").cast("double")), 6).cast(d6)
    agg = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum("x"), 6).cast("double").alias("sx"),
        F.round(F.sum("y"), 6).cast("double").alias("sy"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).cast("double").alias("sxy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).cast("double").alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    s_raw = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return agg.select(
        "n_terms",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(s_raw, 6))
        .alias("zipf_slope"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round((F.col("sy") - s_raw * F.col("sx")) / n, 6))
        .alias("zipf_intercept"),
    )


ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest({TOKENS_SQL}) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS rank
  FROM vocab ORDER BY freq DESC, word ASC LIMIT {ZIPF_TOP_N}
),
terms AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM ranked
),
s AS (
  SELECT COUNT(*) AS n_terms,
         CAST(ROUND(SUM(x), 6) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(y), 6) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(x * y), 6) AS DOUBLE) AS sxy,
         CAST(ROUND(SUM(x * x), 6) AS DOUBLE) AS sxx
  FROM terms
)
SELECT n_terms,
       CASE WHEN n_terms::DOUBLE * sxx - sx * sx = 0 THEN NULL
            ELSE ROUND((n_terms::DOUBLE * sxy - sx * sy)
                       / (n_terms::DOUBLE * sxx - sx * sx), 6) END AS zipf_slope,
       CASE WHEN n_terms::DOUBLE * sxx - sx * sx = 0 THEN NULL
            ELSE ROUND((sy - ((n_terms::DOUBLE * sxy - sx * sy)
                              / (n_terms::DOUBLE * sxx - sx * sx)) * sx)
                       / n_terms::DOUBLE, 6) END AS zipf_intercept
FROM s
"""


ENTROPY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({TOKENS_SQL}) AS token
  FROM documents
),
per_tok AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
),
with_n AS (
  SELECT doc_id, c,
         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM per_tok
)
SELECT doc_id, MAX(n) AS n_tokens, COUNT(*) AS n_unique,
       CAST(SUM(CAST(ROUND(log2(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 6)
                     AS DECIMAL(12,6)) * c) AS DOUBLE) / MAX(n) AS entropy_bits
FROM with_n
GROUP BY doc_id
"""


UNIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({TOKENS_SQL}) AS token
  FROM documents
),
freqs AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CAST(ROUND(log10(CAST(f.freq AS DOUBLE)), 6) AS DECIMAL(12,6))) AS DOUBLE)
         / COUNT(*) AS mean_log10_freq
FROM tok t JOIN freqs f ON t.token = f.token
GROUP BY t.doc_id
"""


PPL_BUCKETS = 3  # CCNet convention: head / middle / tail


def perplexity_buckets(docs: DataFrame, n_buckets: int = PPL_BUCKETS) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score each document with the cheap LM proxy
    (mean log10 corpus token frequency, same statistic as
    text_unigram_logprob), then split each language into
    head/middle/tail buckets by per-language score thresholds — the
    published CCNet recipe itself (the paper computes perplexity
    CUTOFFS per language and assigns each doc by comparing to the
    cutoff, rather than ntile-ing the whole language through a sort).

    Bucket rule: thresholds t_b = percentile_disc(b / n_buckets) of the
    score, ascending, for b = 1..n_buckets-1; a doc lands in bucket
    `n_buckets - |{b : score > t_b}|` (bucket 1 = head = above every
    threshold). Ties on the threshold value share a bucket — a
    value-based rule, unlike ntile's position-based one.

    Determinism: the score is the unigram_logprob statistic (exact
    decimal sum / exact count). percentile_disc is the SQL-standard
    "smallest value with cume_dist >= p" — an actual data value, no
    interpolation — and the oracle selects the identical element by its
    integer rank ceil(b*n / n_buckets), so the thresholds are bit-equal
    cross-engine (tests/test_properties.py::
    test_percentile_disc_matches_explicit_rank pins the Spark-side
    equivalence of the two definitions). Zero-token docs drop out in
    both engines (inner join to the frequency table).

    Scale: the frequency table is vocabulary-sized (broadcast); the
    per-doc agg is one keyed shuffle; thresholds are a per-lang
    AGGREGATE (|langs| rows, distributed partial aggregation — no
    window ever sees the per-doc relation) broadcast-joined back. The
    previous ntile form funneled corpus/|langs| rows through one task
    per language — the keyed-window scale hazard grouped_topk fixed for
    ANN; this is the aggregation-side analogue."""
    tok = explode_nonnull(
        spread(docs), ["doc_id", "lang"], tokenize_normalized("text"), "token"
    )
    freqs = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    log_dec = F.round(F.log10(F.col("freq").cast("double")), 6).cast("decimal(12,6)")
    per_doc = (
        tok.join(F.broadcast(freqs), "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(log_dec).cast("double") / F.count(F.lit(1))).alias("mean_log10_freq"),
        )
    )
    ths = per_doc.groupBy("lang").agg(
        *[
            F.expr(
                f"percentile_disc({b / n_buckets!r}) "
                "WITHIN GROUP (ORDER BY mean_log10_freq)"
            ).alias(f"_t{b}")
            for b in range(1, n_buckets)
        ]
    )
    above = sum(
        F.when(F.col("mean_log10_freq") > F.col(f"_t{b}"), 1).otherwise(0)
        for b in range(1, n_buckets)
    )
    bucket = (F.lit(n_buckets) - above).cast("long")
    label = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return per_doc.join(F.broadcast(ths), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_log10_freq",
        bucket.alias("ppl_bucket"),
        label.alias("bucket_label"),
    )


def _ppl_buckets_oracle(n_buckets: int = PPL_BUCKETS) -> str:
    """Threshold-join twin of `perplexity_buckets`. The threshold for
    quantile b/n over n rows is selected by its INTEGER rank
    ceil(b*n / n_buckets) — the SQL-standard percentile_disc element
    ("smallest value with cume_dist >= p"); the value at that sorted
    position is well-defined under any tie order, so ROW_NUMBER's
    doc_id tie-break cannot change it."""
    th_cols = ",\n         ".join(
        f"MAX(CASE WHEN rn = ({b}::BIGINT * n + {n_buckets - 1}) // {n_buckets} "
        f"THEN mean_log10_freq END) AS t{b}"
        for b in range(1, n_buckets)
    )
    above = " + ".join(
        f"(CASE WHEN p.mean_log10_freq > t.t{b} THEN 1 ELSE 0 END)"
        for b in range(1, n_buckets)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest({TOKENS_SQL}) AS token
  FROM documents
),
freqs AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
per_doc AS (
  SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
         CAST(SUM(CAST(ROUND(log10(CAST(f.freq AS DOUBLE)), 6) AS DECIMAL(12,6))) AS DOUBLE)
           / COUNT(*) AS mean_log10_freq
  FROM tok t JOIN freqs f ON t.token = f.token
  GROUP BY t.doc_id, t.lang
),
ranked AS (
  SELECT lang, mean_log10_freq,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY mean_log10_freq ASC) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM per_doc
),
ths AS (
  SELECT lang,
         {th_cols}
  FROM ranked GROUP BY lang
),
bucketed AS (
  SELECT p.doc_id, p.lang, p.n_tokens, p.mean_log10_freq,
         ({n_buckets} - ({above}))::BIGINT AS ppl_bucket
  FROM per_doc p JOIN ths t ON p.lang = t.lang
)
SELECT doc_id, lang, n_tokens, mean_log10_freq, ppl_bucket,
       CASE WHEN ppl_bucket = 1 THEN 'head'
            WHEN ppl_bucket = {n_buckets} THEN 'tail'
            ELSE 'middle' END AS bucket_label
FROM bucketed
"""


PPL_BUCKETS_ORACLE = _ppl_buckets_oracle()


TEXTSTATS_QUERIES = [
    QueryDef("text_token_stats", lambda s, d: token_stats(_docs(s, d)), TOKEN_STATS_ORACLE),
    QueryDef("text_quality_score", lambda s, d: quality_score(_docs(s, d)), QUALITY_ORACLE),
    QueryDef("text_lang_id", lambda s, d: lang_id(_docs(s, d)), LANG_ID_ORACLE, headline=True),
    QueryDef("text_fingerprint", lambda s, d: doc_fingerprint(_docs(s, d)), FINGERPRINT_ORACLE),
    QueryDef("text_winnow_fingerprints", lambda s, d: winnow_fingerprints(_docs(s, d)), WINNOW_ORACLE),
    QueryDef("text_bpe_token_counts", lambda s, d: bpe_token_counts(_docs(s, d)), BPE_TOKENS_ORACLE),
    QueryDef("text_bpe_merge_pairs", lambda s, d: bpe_merge_pairs(_docs(s, d)), BPE_MERGE_PAIRS_ORACLE),
    QueryDef("text_unigram_logprob", lambda s, d: unigram_logprob(_docs(s, d)), UNIGRAM_ORACLE),
    QueryDef("text_token_entropy", lambda s, d: token_entropy(_docs(s, d)), ENTROPY_ORACLE),
    # Distributional sanity check: the vocabulary's Zipf slope.
    QueryDef("text_zipf_fit", lambda s, d: zipf_fit(_docs(s, d)), ZIPF_ORACLE),
    QueryDef("text_lang_id_ngram", lambda s, d: lang_id_ngram(_docs(s, d)), _lang_ngram_oracle()),
    QueryDef("text_perplexity_buckets", lambda s, d: perplexity_buckets(_docs(s, d)), PPL_BUCKETS_ORACLE),
]
