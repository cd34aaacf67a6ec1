"""Deduplication operators for training-data pipelines (driver mandate;
extends the reference's distinct-set aggregation A1/A2, SURVEY.md §2.4,
to document-level near-dup semantics).

All hashing is md5-based (both engines expose md5) so every operator has
a bitwise-identical DuckDB oracle: `functions.text.hash60` (first 15 hex
chars of md5 as a 60-bit signed-safe bigint) and its SQL twin.

Scale design (the part that matters at 100 TB):
  * exact dedup — hash-groupBy, one shuffle on the 128-bit digest; no
    skew (uniform key space).
  * n-gram Jaccard — all-pairs via shingle-inverted-index join. O(n²)
    worst case by shared shingle; the MinHash path below is the scale
    path, this is the exact verifier.
  * MinHash+LSH — k=72 signature via ONE pass (72 min-aggregates over
    the exploded shingles — no shingle×seed row blowup), banded
    b=24/r=3 (collision probability ≥0.96 at the family's default
    threshold 0.5 — the production recall contract; (k, b, r) are
    parameters), candidates from per-band equality joins (shuffle
    keyed by band hash), verified with exact Jaccard. This is the
    V-SMART-Join shape from PAPERS.md: candidate generation never
    materializes the n² cross product.
  * SimHash — 60-bit signature via 60 conditional-sum aggregates (no
    per-bit row explosion); near-dup pairs via `hamming_near_pairs`'
    4-band screen, which is EXACT for hamming ≤ 3 by pigeonhole (4
    bands, ≤3 differing bits → at least one band equal). The pHash
    near-dup queries (operators/multimodal.py) share that screen.

The LSH core — every screen (`minhash_lsh_pairs`, the candidate and
multiplicity observables, the recall audit, `dedup_incremental_neardup`
and the streaming ingest screen) is built from these steps, each
written once:
  guard       `stop_shingles` / `stop_shingle_filter` (df ≤ max_df)
  signature   `minhash_signatures`
  bands       `band_relation`
  collisions  `band_join`; `_band_collisions` for a self-screen, which
              `lsh_candidate_pairs` dedups and
              `lsh_collision_multiplicity` counts; the hamming
              screen `hamming_near_pairs` (SimHash, pHash) bands
              through it too
  verify      `verify_jaccard` (candidates ⋈ both guarded shingle sets)
  rep pairs   `_lsh_rep_pairs` (digests, dup members, guard, screen and
              verify over one representative per content hash)
  expand      `_expand_exact_dups` (exact-dup members of the reps) —
              output only: `minhash_lsh_pairs` returns it, while the
              clean-corpus near-dup drop reads the rep pairs directly
The oracles mirror it with `_sig_band_ctes` / `_screen_ctes`, and
state the guarded exact Jaccard once, in `_pair_overlap_ctes`' `exact`
(Spark twin: `_jaccard6`).

Filtered-universe semantics: `ngram_jaccard_pairs` computes Jaccard
over the shingle universe with document frequency ≤ `max_df` (default
MAX_SHINGLE_DF) — shingles shared by more documents are treated as
boilerplate and excluded from both the intersection and the per-doc
set sizes. The oracles mirror the filter, so engine parity holds, but
the declared result is NOT all-shingles Jaccard once any shingle
exceeds max_df.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    TOKENS_SQL,
    hash60,
    hash60_sql,
    null_safe_size,
    tokenize_normalized,
)
from apd_map_reduce_spark.plans.layout import (
    explode_nonnull,
    posexplode_nonnull,
    spread,
)
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

# LSH family sizing (parameterizable — every signature/band/oracle
# builder takes (bands, rows) and derives n_perm = bands*rows). The
# DEFAULTS are a production-shape configuration: the banded S-curve
# 1-(1-s^r)^b must give recall ≥ 0.9 AT THE OPERATOR'S OWN THRESHOLD,
# or the operator silently under-reports near-dups at exactly the
# similarity it claims to find. With b=24, r=3 (k=72):
#   P(collide | s=0.5) = 1-(1-0.125)^24 ≈ 0.960   (NEARDUP_THRESHOLD)
#   P(collide | s=0.7) ≈ 0.9999,  P(s=0.3) ≈ 0.48,  P(s=0.1) ≈ 0.024
# r=3 keeps candidate precision (a band collision needs 3 consecutive
# minhash agreements, so low-similarity pairs rarely surface), b=24
# buys the recall; the old k=16/b=4/r=4 had P(0.5)≈0.23 — fine as a
# demo, not a config you'd ship at 100 TB.
# test_properties.py asserts the ≥0.9 contract against these constants.
LSH_BANDS = 24
LSH_ROWS = 3
N_MINHASH = LSH_BANDS * LSH_ROWS  # 72
# Default threshold for the NEAR-DUP family (minhash_lsh_pairs,
# dedup_incremental_neardup, the streaming ingest screen, dup_groups /
# clean_corpus): "near duplicate" = Jaccard ≥ 0.5, the same bar the
# capstone pipeline uses, and the point the default (b, r) is sized for.
NEARDUP_THRESHOLD = 0.5
# Default threshold for the EXACT pair enumerators (ngram_jaccard_pairs):
# no recall concern there — the inverted-index self-join sees every
# sharing pair — so a lower reporting bar is safe and more informative.
JACCARD_THRESHOLD = 0.2
SIMHASH_BITS = 60
HAMMING_BANDS = 4  # 15-bit bands of a 60-bit hash
HAMMING_MAX = 3
# Stop-shingle guard: a shingle shared by m docs contributes m² rows to
# any inverted-index self-join — one boilerplate trigram shared by the
# whole corpus is a single-key cartesian blowup. Dropping shingles with
# document frequency > MAX_SHINGLE_DF bounds per-key fan-out at
# MAX_SHINGLE_DF² regardless of corpus size (a pair whose similarity
# rests solely on shingles shared by >256 documents is boilerplate by
# definition — standard stop-shingle practice). Test corpora max out at
# df=25 (sf0.1), so results are unchanged at test scale; the oracle
# mirrors the filter so parity holds at any scale.
MAX_SHINGLE_DF = 256


# --- shared building blocks ------------------------------------------------

def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined); empty when < n tokens.

    `tokens` MUST be a materialized attribute (a column produced by a
    prior select, e.g. `tokenized_docs`), NOT an inline expression
    tree: this builder references `tokens` n+2 times (n `element_at`
    picks per position plus two `size` guards), and Column expressions
    are spliced in BY VALUE — an inline tokenizer chain would be
    re-evaluated per shingle position, turning a per-doc O(T) stage
    into O(n·T·tokenize). Measured on text_boilerplate_spans at sf1:
    28.4 s inline vs 1.7 s through the projection barrier (NOTES_r6
    §6). `tests/test_plan_quality.py` gates the single-evaluation
    shape on every shingle consumer."""
    idx = F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    make = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j) for j in range(n)]),
    )
    return F.when(F.size(tokens) >= n, make).otherwise(F.array().cast("array<string>"))


def tokenized_docs(docs: DataFrame, keep: tuple = ("doc_id",)) -> DataFrame:
    """(*keep, ts) with ts = the normalized token array, materialized
    ONCE per row behind a projection barrier.

    The barrier is load-bearing: every downstream shingle expression
    references `ts` many times, and Catalyst's CollapseProject keeps a
    non-cheap alias that is multiply-referenced as its own projection
    instead of inlining it — so the tokenizer (split + per-token
    regexp_replace) runs once per document, not once per reference.
    spread() first so the CPU-bound tokenize stage is never serialized
    by a small scan (plans/layout.py)."""
    return spread(docs).select(*keep, tokenize_normalized("text").alias("ts"))


_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
idx AS (
  SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM idx
),
shh AS (
  SELECT DISTINCT doc_id, {hash60_sql('shingle')} AS sh
  FROM sh
)
"""


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) with per-doc distinct shingles.

    tokenized_docs() first: the token array is materialized once per
    row (the multi-reference trap in word_shingles' docstring) and the
    CPU-bound stage is never serialized by a small scan;
    explode_nonnull so the optimizer's inferred size-filter cannot
    drag the shingle expression back below the exchange
    (plans/layout.py). Dedup happens at the ARRAY level
    (array_distinct) — per-doc distinctness needs no global shuffle,
    unlike explode().distinct()."""
    return explode_nonnull(
        tokenized_docs(docs),
        ["doc_id"],
        F.array_distinct(word_shingles(F.col("ts"))),
        "shingle",
    )


def doc_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) with sh = hash60 of each distinct shingle — the
    join-optimized relation: all-pairs intersection joins compare 8-byte
    longs instead of ~20-byte strings (shuffle volume and compare cost
    both drop). Hashing is mirrored in the oracles, so semantics are
    engine-identical even in the (negligible) collision case."""
    hashed = F.array_distinct(F.transform(word_shingles(F.col("ts")), hash60))
    return explode_nonnull(tokenized_docs(docs), ["doc_id"], hashed, "sh")


# --- exact dedup -------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Content-hash dedup groups: canonical doc = min doc_id per digest."""
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- n-gram Jaccard (exact all-pairs over shared shingles) -------------------

def stop_shingles(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(sh) — the stop-list of a (doc_id, sh) relation: the shingle
    hashes whose document frequency in it exceeds `max_df`. Whoever
    owns the df statistic owns the list: the whole corpus for the
    self-screens (`stop_shingle_filter`), the persisted CORPUS side for
    the incremental screens, which filter both sides by it."""
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )


def stop_shingle_filter(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingle hashes whose document frequency exceeds `max_df`.

    The frequent set is tiny by construction (only keys shared by >256
    docs), so the anti-join broadcasts — no extra shuffle on the big
    relation; the df aggregation itself shuffles on `sh`, the same key
    the downstream self-join uses, so the exchange is reusable.

    NOTE: `sh` is scanned twice (df aggregation + anti-join input).
    Cache it first when it is expensive to recompute — shingling is the
    CPU-bound stage (`_shingle_pair_overlap` does exactly this).
    """
    return sh.join(F.broadcast(stop_shingles(sh, max_df)), "sh", "left_anti")


def _overlap6(den: Column) -> Column:
    """`n_common` / `den` rounded to 6 dp — the one Spark spelling of
    the shingle-overlap measures: Jaccard (`_jaccard6`) and
    containment (`den` = one side's set size). `_overlap6_sql` is its
    DuckDB twin."""
    return F.round(F.col("n_common").cast("double") / den, 6)


def _jaccard6(n_a: str, n_b: str) -> Column:
    """Rounded shingle-set Jaccard |A∩B| / |A∪B| from `n_common` and
    the per-side set-size columns `n_a`, `n_b`."""
    return _overlap6(F.col(n_a) + F.col(n_b) - F.col("n_common"))


def _shingle_pair_overlap(
    docs: DataFrame, max_df: int, raw: DataFrame | None = None
) -> DataFrame:
    """Shared machinery for the exact shingle-set measures (Jaccard
    and containment): (doc_a, doc_b, n_common, n_a, n_b) for every doc
    pair sharing at least one filtered shingle, from the
    inverted-index self-join. At corpus scale the sharing-pair
    universe is quadratic in per-shingle df even under the
    stop-shingle guard — `minhash_lsh_pairs` is the scale path.

    `raw` (optional) is a pre-computed (ideally cached)
    `doc_shingle_hashes(docs)` relation, so a caller that also screens
    (`lsh_recall_audit`) shares ONE shingling pass.

    Two cache points, both load-bearing (measured at sf0.1, noop
    protocol): the RAW shingle relation is cached so the stop-shingle
    df aggregation doesn't force a second shingling pass (shingling is
    the CPU-bound stage), and the FILTERED relation is cached so the
    broadcast anti-join runs once instead of once per consumer (three
    consumers: per-doc counts + both self-join sides — re-evaluating it
    cost ~1 s of ngram_jaccard's ~3.4 s). Both caches are
    MEMORY_AND_DISK, so at cluster scale they spill rather than OOM;
    the filtered cache is strictly smaller than the raw one."""
    raw = raw if raw is not None else doc_shingle_hashes(docs).cache()
    sh = stop_shingle_filter(raw, max_df=max_df).cache()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return common.join(ca, "doc_a").join(cb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Jaccard over per-doc distinct shingle HASHES (8-byte join keys;
    hashing mirrored in the oracle, so any collision affects both
    engines identically).

    Filtered-universe semantics: stop-shingles (document frequency >
    `max_df`) are removed BEFORE the self-join and excluded from the
    per-doc counts, so `jaccard` is the true Jaccard over the
    max_df-filtered shingle universe — NOT over all shingles. A pair
    whose similarity rests solely on shingles shared by more than
    `max_df` documents (boilerplate) does not appear. The oracle mirrors
    the filter, so parity holds at any scale. Cache rationale:
    `_shingle_pair_overlap`. `sh` shares a pre-computed raw shingle
    relation with a caller that also screens."""
    return (
        _shingle_pair_overlap(docs, max_df, raw=sh)
        .withColumn("jaccard", _jaccard6("n_a", "n_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


CONTAINMENT_THRESHOLD = 0.8
CONTAINMENT_MIN_SHINGLES = 8


def containment_pairs(
    docs: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    min_shingles: int = CONTAINMENT_MIN_SHINGLES,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """ASYMMETRIC containment over the shingle sets: C(A→B) =
    |A∩B| / |A|. Catches sub-document duplication — a short doc quoted
    wholesale inside a long one scores containment ≈ 1 while its
    Jaccard is only ≈ |A|/|B| and sails under every symmetric
    threshold. This is the standard complement to Jaccard dedup for
    quote/excerpt/subset detection (tests construct exactly that case;
    the synthetic corpus itself only contains full duplicates, where
    containment and Jaccard coincide).

    Emits one row per unordered pair with BOTH directions
    (cont_a_in_b, cont_b_in_a), filtered to pairs where either
    direction clears `threshold` and both sides have at least
    `min_shingles` filtered shingles (a 1-shingle doc is trivially
    contained in anything sharing it).

    Scale: identical machinery to ngram_jaccard_pairs
    (`_shingle_pair_overlap` — same cached shingle relation, same
    stop-shingle guard bounding per-key fan-out, same keyed
    self-join); only the final measure differs. Filtered-universe
    semantics carry over unchanged."""
    return (
        _shingle_pair_overlap(docs, max_df)
        .filter(F.least(F.col("n_a"), F.col("n_b")) >= min_shingles)
        .withColumn("cont_a_in_b", _overlap6(F.col("n_a")))
        .withColumn("cont_b_in_a", _overlap6(F.col("n_b")))
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
        .select("doc_a", "doc_b", "n_common", "cont_a_in_b", "cont_b_in_a")
    )


def _overlap6_sql(den: str) -> str:
    """SQL twin of `_overlap6`: `n_common` / `den` rounded to 6 dp."""
    return f"ROUND(CAST(n_common AS DOUBLE) / {den}, 6)"


def _jaccard6_sql(n_a: str = "ca.n", n_b: str = "cb.n") -> str:
    """SQL twin of `_jaccard6`."""
    return _overlap6_sql(f"({n_a} + {n_b} - n_common)")


def _pair_overlap_ctes(threshold: float, max_df: int = MAX_SHINGLE_DF) -> str:
    """SQL twin of `_shingle_pair_overlap` plus the exact verify, over
    the shingle CTE `shh`: the guarded relation `shf`, per-doc sizes
    `cnt`, sharing pairs `pairs` (doc_a, doc_b, n_common) and `exact` —
    the pairs whose rounded guarded Jaccard is ≥ `threshold`. Every
    shingle-overlap oracle (Jaccard, containment, the MinHash-LSH
    family, the recall audit) builds on it."""
    return f"""shf AS (
  SELECT doc_id, sh FROM shh
  WHERE sh NOT IN (
    SELECT sh FROM shh GROUP BY sh HAVING COUNT(*) > {max_df}
  )
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT * FROM (
    SELECT doc_a, doc_b, n_common, {_jaccard6_sql()} AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
  ) WHERE jaccard >= {threshold}
)"""


CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_pair_overlap_ctes(JACCARD_THRESHOLD)},
scored AS (
  SELECT doc_a, doc_b, n_common,
         {_overlap6_sql("ca.n")} AS cont_a_in_b,
         {_overlap6_sql("cb.n")} AS cont_b_in_a
  FROM pairs
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
  WHERE least(ca.n, cb.n) >= {CONTAINMENT_MIN_SHINGLES}
)
SELECT doc_a, doc_b, n_common, cont_a_in_b, cont_b_in_a
FROM scored
WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAINMENT_THRESHOLD}
"""


NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLES_CTE},
{_pair_overlap_ctes(JACCARD_THRESHOLD)}
SELECT doc_a, doc_b, n_common, jaccard FROM exact
"""


# --- idf-weighted cosine (sparse-vector near-dup) ----------------------------

WEIGHTED_COSINE_THRESHOLD = 0.5


def weighted_cosine_pairs(
    docs: DataFrame,
    threshold: float = WEIGHTED_COSINE_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Sparse-vector near-dup: cosine similarity over idf-weighted
    shingle sets. The weighted sibling of `ngram_jaccard_pairs` — a
    pair whose overlap consists of corpus-common shingles (boilerplate
    that survives the hard `max_df` cut) scores LOW, while the same
    raw overlap on rare shingles scores high. Set-based Jaccard cannot
    make that distinction; this is the standard idf-weighted variant
    (each doc's vector has weight idf(sh) on its distinct shingles, so
    cos(A,B) = Σ_{A∩B} idf² / √(Σ_A idf²)·√(Σ_B idf²)).

    Determinism (rules in queries/base.py): idf = round(ln((N+1)/
    (df+1)), 6) — integer inputs, one ln, one round; per-shingle
    idf² = round(idf·idf, 6) held in exact integer MICRO-units
    (decimal-exact ×10⁶ → BIGINT), so the three sums (pair dot
    product + both norms) are order-free primitive long sums — and
    the 10⁶ factors cancel exactly in cos = s_ab/√(s_a·s_b). The
    final cosine is one double division over one correctly-rounded
    sqrt of a product of two deterministic doubles, then round-6 —
    every step engine-identical. (Measured A/B for the micro-long
    representation vs DECIMAL(18,6) sums at sf1/50k docs: 33.0 s vs
    50.2 s min-of-3 — Spark's sum buffer for decimal(28,6) leaves
    the compact-long path and boxes BigDecimal per row, while the
    long sum stays in whole-stage codegen. Same 6-dp output. A long
    sum CAN wrap silently where the decimal would widen — at max
    idf² ≈ 103e6 micro-units that needs ~10¹¹ filtered shingles in
    one doc or pair, orders beyond any real document.)

    Scale shape = ngram_jaccard_pairs: the idf relation is keyed by
    `sh` — the SAME key the self-join shuffles on, so the weight join
    rides the existing exchange (no broadcast of a data-sized dim; at
    100 TB the distinct-shingle relation is far too big to broadcast).
    The stop-shingle guard (df > max_df dropped) bounds per-key
    fan-out exactly as in the Jaccard path; only the 1-row doc-count
    scalar is broadcast. Raw shingles cached (df agg + weight join
    consumers), weighted relation cached (norms + both self-join
    sides) — the `_shingle_pair_overlap` pattern."""
    raw = doc_shingle_hashes(docs).cache()
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log(
            (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("df") + F.lit(1)).cast("double")
        ),
        6,
    )
    weights = (
        raw.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "sh",
            (F.round(idf * idf, 6).cast("decimal(18,6)") * F.lit(1000000))
            .cast("long")
            .alias("w2"),
        )
    )
    wsh = raw.join(weights, "sh").cache()
    norms = wsh.groupBy("doc_id").agg(F.sum("w2").alias("s"))
    a = wsh.alias("a")
    b = wsh.alias("b")
    pair = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w2")).alias("s_ab"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    cosine = F.round(
        F.col("s_ab").cast("double")
        / F.sqrt(F.col("s_a").cast("double") * F.col("s_b").cast("double")),
        6,
    )
    return (
        pair.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


_IDF2_SQL = (
    f"CAST(CAST(ROUND(ROUND(ln((nd.n_docs + 1)::DOUBLE / (df + 1)::DOUBLE), 6)"
    f" * ROUND(ln((nd.n_docs + 1)::DOUBLE / (df + 1)::DOUBLE), 6), 6)"
    f" AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
)

WEIGHTED_COSINE_ORACLE = f"""
WITH {_SHINGLES_CTE},
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT sh, {_IDF2_SQL} AS w2
  FROM (SELECT sh, COUNT(*) AS df FROM shh GROUP BY sh HAVING COUNT(*) <= {MAX_SHINGLE_DF})
  CROSS JOIN nd
),
wsh AS (SELECT doc_id, shh.sh AS sh, w2 FROM shh JOIN w ON shh.sh = w.sh),
norms AS (SELECT doc_id, SUM(w2) AS s FROM wsh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w2) AS s_ab
  FROM wsh a JOIN wsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cos AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(s_ab AS DOUBLE)
               / sqrt(CAST(na.s AS DOUBLE) * CAST(nb.s AS DOUBLE)), 6) AS cosine
  FROM pair
  JOIN norms na ON pair.doc_a = na.doc_id
  JOIN norms nb ON pair.doc_b = nb.doc_id
)
SELECT doc_a, doc_b, cosine FROM cos WHERE cosine >= {WEIGHTED_COSINE_THRESHOLD}
"""


# --- MinHash + LSH ------------------------------------------------------------

# Universal-hash family for the MinHash permutations: h_i(x) =
# (a_i * (x mod 2^31) + b_i) mod p with p = 2^31 - 1 (prime). Pure
# 64-bit-safe integer arithmetic (a_i, x31 < 2^31 ⇒ product < 2^62),
# identical in DuckDB — vs the previous seeded-md5 family this removes
# 16 string-concat+md5+hex-conv evaluations PER SHINGLE ROW from the
# signature aggregation (the measured hot spot). Constants are fixed
# odd multipliers from a Knuth-style LCG so both engines embed the same
# literals.
MINHASH_PRIME = 2147483647  # 2^31 - 1


def _mh_params(n_perm: int) -> list[tuple[int, int]]:
    """(a_i, b_i) constants for any signature width — same fixed
    Knuth-multiplier family at every width, so the first 16 entries are
    bit-identical to the historical k=16 family."""
    return [
        (((2654435761 * (i + 1)) % 2147483648) | 1, (40503 * (i + 7919)) % 2147483648)
        for i in range(n_perm)
    ]


_MH_PARAMS = _mh_params(N_MINHASH)


def minhash_signatures(
    docs: DataFrame, sh: DataFrame | None = None, n_perm: int = N_MINHASH
) -> DataFrame:
    """k=`n_perm` MinHash signature in ONE aggregation pass over the
    hashed shingle relation (universal-hash re-map of the 60-bit shingle
    hash — a uniform family, and the whole pipeline shares one scan).

    (Measured dead end: pre-projecting the shared `sh % 2^31`
    subexpression before the aggs is NOT a win — 2.25 s vs 2.09 s
    min-of-3 at sf0.1 — whole-stage codegen already eliminates the
    common subexpression; the projection only adds a copy.)

    Each aggregate is built from one SQL string: one Py4J call instead
    of one per Column node, for the same plan."""
    sh = sh if sh is not None else doc_shingle_hashes(docs)
    aggs = [
        F.expr(f"min(({a} * (sh % 2147483648) + {b}) % {MINHASH_PRIME}) AS h{seed}")
        for seed, (a, b) in enumerate(_mh_params(n_perm))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_collision_probability(
    jaccard: float, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> float:
    """The banded-LSH S-curve: probability that a pair with true
    Jaccard similarity `jaccard` collides in at least one band —
    1 - (1 - s^r)^b. This IS the recall contract of every LSH-based
    operator here (minhash_lsh_pairs, dedup_incremental_neardup, the
    streaming ingest screen): a qualifying pair is REPORTED only if it
    band-collides, and with the default b=24, r=3 the curve gives
    ~1.0 at s=0.7, ~0.96 at s=0.5 (the near-dup family's default
    threshold — the ≥0.9 sizing contract), ~0.48 at s=0.3, ~0.02 at
    s=0.1 — use it to size (bands, rows) for a target similarity
    threshold (rule of thumb: S-curve midpoint ≈ (1/b)^(1/r)), and to
    understand why tests must plant KNOWN colliders rather than
    arbitrary near-dups."""
    return 1.0 - (1.0 - jaccard**rows) ** bands


def band_relation(
    sig: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, band_hash) from a k=bands*rows signature relation.

    ONE pass over sig: explode an array of (band, band_hash) structs.
    A bands-way union would replicate the signature aggregation subtree
    per branch (and per join side) in the plan.

    band_hash is the STRUCT of the band's `rows` minhash values, not a
    digest of them: band collision is tuple equality either way (the
    oracle's md5-of-tuple equality is the same predicate), but the
    struct skips bands x (concat_ws + md5) per doc and shuffles 3
    longs (~24 bytes) instead of a 32-char string — measured at sf0.1
    on the full LSH query: 5.17 s vs 5.37 s min-of-3, identical pairs.

    The struct array is built as one SQL string (one Py4J call, not one
    per Column node); the plan is the same `CreateNamedStruct` tree."""
    band_structs = ", ".join(
        f"named_struct('band', {band}, 'band_hash', named_struct("
        + ", ".join(f"'k{j}', h{band * rows + j}" for j in range(rows))
        + "))"
        for band in range(bands)
    )
    return sig.selectExpr("doc_id", f"explode(array({band_structs})) AS b").selectExpr(
        "doc_id", "b.band", "b.band_hash"
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    ordered: bool = False,
) -> tuple[DataFrame, list[Column]]:
    """The band equi-join of every LSH screen, from two
    `band_relation`s: one row per band in which a `left` doc and a
    `right` doc share a band key (a keyed shuffle on (band,
    band_hash), never a cross product). Rows are NOT deduplicated — a
    pair colliding in k bands yields k rows. `ordered` keeps only left
    doc_id < right doc_id, the self-join form where each unordered
    pair counts once.

    Returns (rows, pair): `pair` names the two docs as columns `a` and
    `b`. Callers select or group by `pair` directly on the join rows,
    so the renames fold into their projection or grouping keys.

    (Measured dead end: candidate generation via ONE groupBy on the
    band key — collect_list(doc_id), then a streamed explode×explode
    pair expansion — halves the shuffle (the self-join shuffles the
    24·N-row relation on both sides). A quiet-box interleaved A/B at
    sf0.1 showed 3.5/3.9 s min/median vs 4.3/4.9 for this self-join,
    but the verdict did NOT reproduce under load at sf0.1 (5.1/5.5 vs
    4.6/5.3) or sf1 (16.7/19.5 vs 15.7/19.2) — the gap is inside this
    box's noise band. The self-join stays: identical candidate set,
    and a hot band key is split by AQE skew handling, where the
    grouped variant pins each colliding group's id array to one
    task.)"""
    on = (F.col("l.band") == F.col("r.band")) & (
        F.col("l.band_hash") == F.col("r.band_hash")
    )
    if ordered:
        on = on & (F.col("l.doc_id") < F.col("r.doc_id"))
    pair = [F.col("l.doc_id").alias(a), F.col("r.doc_id").alias(b)]
    return left.alias("l").join(right.alias("r"), on), pair


def verify_jaccard(
    candidates: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    names: tuple[str, str, str, str] = ("doc_a", "doc_b", "n_a", "n_b"),
) -> DataFrame:
    """(a, b, jaccard) — the exact verify of every LSH screen: the
    `candidates` pairs whose shingle-set Jaccard, rounded to 6 dp, is
    ≥ `threshold`. `sh_a` and `sh_b` are the two sides' GUARDED
    (doc_id, sh) relations (the same relation twice for a
    self-screen); `names` are the pair columns of `candidates` and the
    per-side set-size columns.

    Only the candidates are verified (the whole point of LSH): each
    pair fans out over side a's shingles and probes side b's on
    (b, sh) — keyed joins, never the all-pairs join. A candidate
    sharing no shingle yields no row.
    (At cluster scale, additionally semi-filtering the sides down to
    candidate doc ids — with `candidates` cached — keeps the
    composite-key join from shuffling the full shingle relation;
    re-measured under the protocol of record (noop sink + clearCache,
    sf0.1, interleaved min/median-of-5): median 5.2 s vs 4.3 s —
    still counterproductive at local test scale, where the extra
    candidate materialization costs more than the shuffle it saves.
    Same verdict, same protocol, for the no-explode formulation that
    keeps shingles as per-doc arrays (signature = 16 array_min
    projections, verification = array_intersect on candidate pairs):
    26.8 s vs 4.0 s — higher-order array functions are interpreted
    per element, not codegen'd, so the "zero-shuffle" signature pass
    loses by an order of magnitude to the exploded ObjectHashAggregate.)"""
    a, b, n_a, n_b = names

    def sizes(sh: DataFrame, doc: str, n: str) -> DataFrame:
        return (
            sh.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias(n))
            .select(F.col("doc_id").alias(doc), n)
        )

    common = (
        candidates.join(sh_a.select(F.col("doc_id").alias(a), "sh"), a)
        .join(sh_b.select(F.col("doc_id").alias(b), "sh"), [b, "sh"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes(sh_a, a, n_a), a)
        .join(sizes(sh_b, b, n_b), b)
        .withColumn("jaccard", _jaccard6(n_a, n_b))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _expand_exact_dups(
    rep_pairs: DataFrame, dup_members: DataFrame, shf: DataFrame
) -> DataFrame:
    """Expand representative-level (doc_a, doc_b, jaccard) pairs back
    over the exact-dup cluster members (`dup_members` = (doc_id,
    rep_id) for clusters with > 1 copy; `shf` = the guarded shingle
    relation the pairs were verified on)."""
    # Cross-cluster: every (member of A, member of B) combo inherits
    # the rep jaccard. LEFT joins against the dup-cluster members only:
    # a rep with no duplicates stands for itself (coalesce), so the
    # expansion is free when no exact dups exist instead of an inner
    # join through a members relation the size of the corpus.
    ma = dup_members.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("da"))
    mb = dup_members.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("db"))
    ea = F.coalesce(F.col("da"), F.col("doc_a"))
    eb = F.coalesce(F.col("db"), F.col("doc_b"))
    cross = (
        rep_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.least(ea, eb).alias("doc_a"),
            F.greatest(ea, eb).alias("doc_b"),
            "jaccard",
        )
    )
    # Intra-cluster: identical docs are jaccard-1.0 pairs, provided the
    # doc has ≥1 GUARDED shingle (identical docs whose shingles are all
    # stop-shingles share nothing measurable: 0/0 is no row, matching
    # the oracle). Singleton clusters generate no intra pairs, so
    # joining dup_members (not all members) is result-identical.
    shingled = shf.select(F.col("doc_id").alias("s_rep")).distinct()
    x, y = dup_members.alias("x"), dup_members.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .join(shingled, F.col("x.rep_id") == F.col("s_rep"), "left_semi")
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    clusters: DataFrame | None = None,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    sh: DataFrame | None = None,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Banded-LSH candidates, verified with exact Jaccard — BOTH over
    the df ≤ `max_df` guarded shingle universe (`stop_shingle_filter`,
    df counted over the full corpus).

    Result = pairs that (a) collide in ≥1 of `bands` bands of the
    bands*rows-wide signature computed over each doc's FILTERED
    shingle set and (b) have filtered-universe shingle-Jaccard ≥
    threshold — the same measure `ngram_jaccard_pairs` reports. Size
    (bands, rows) with `lsh_collision_probability` so recall at
    `threshold` meets your target; the defaults give ≥0.96 at the
    default threshold 0.5.

    OPERATING POINT (pinned by three-decade measurement,
    LSH_SCALE_SWEEP_r12.json): the default b=24, r=3 is the best
    contract-meeting point at sf1, sf10 AND sf100 — sharper-tail r=4
    points cut sf100 candidates only −8% while doubling band rows and
    paying +37% wall (see the LSH_SCALE_BANDS block below). The
    screen's candidate volume DOES grow superlinearly on sqrt-Heaps
    corpora (92.8M candidates at 5M docs): that term is
    near-threshold mid-similarity pair mass, which every ≥0.9-recall
    banded screen at this threshold/measure must surface — the
    mitigations are a stricter measure (5-gram shingles: 92× fewer
    candidates, but a stricter near-dup definition —
    LSH_K5_PROBE_r12.json) or a higher threshold, both caller-level
    contract changes, not defaults.

    The guard is load-bearing at scale, twice over:

    * **Provable band-bucket bound.** Every doc in a band bucket
      contains the argmin shingle of the bucket's first component
      (equal min-hash value ⇒ same shingle, modulo negligible
      universal-hash collisions), and every surviving shingle has
      df ≤ max_df — so NO band bucket exceeds ~max_df docs and the
      candidate self-join's per-key fan-out is bounded by max_df²
      regardless of corpus size. Without it, signatures over raw
      shingles let one Zipf-head shingle with a small hash become the
      band minimum for tens of thousands of documents: measured on
      the 500k-doc sf10 fixture, the raw-shingle screen produced a
      12,637-doc bucket and 7.06e8 candidate pairs (95% from buckets
      of >100 docs), an 80 GB shuffle that filled the disk; the
      guarded screen is bounded by construction.
    * **S-curve alignment.** The exact verify (here and in the
      recall audit) measures filtered-universe Jaccard, so
      colliding on raw-shingle signatures screened for the WRONG
      similarity: a pair with filtered-Jaccard 0.6 whose raw sets are
      diluted by disjoint stop shingles could sit far below the
      S-curve knee and be silently missed despite the claimed ≥0.96
      recall (`test_lsh_screen_finds_stop_diluted_pair` pins the
      case). With signatures over the same universe as the measure,
      the collision-probability contract applies to the similarity
      actually being verified.

    Exact duplicates are pre-grouped first: identical texts share
    identical signatures, so an m-copy cluster would make every band
    key m-hot and the LSH join m²-fan-out. LSH runs over ONE
    representative per content hash; pairs are expanded back over
    cluster members afterwards. Result-identical to full-corpus LSH
    (identical text ⇒ identical shingle set ⇒ identical signature,
    bands, and jaccard), so the oracle needs no change — but band keys
    stay cold no matter how many copies of a document exist. The
    intra-cluster expansion is itself m² per cluster, but those rows
    ARE the declared output (all duplicate pairs), not join fan-out
    inside the banding/verification stages.

    The guard is pay-per-use: only clusters with n_copies > 1
    participate in member bookkeeping. On a corpus with no exact
    duplicates `dup_members` is empty, the anti-join that drops
    non-representative copies has an empty build side, and the
    expansion joins are left joins against empty relations — AQE
    collapses all of them at runtime, so the no-skew case pays only
    the digest aggregation (one shuffle of (doc_id, md5) rows).

    `clusters` (optional) is the output of `dedup_exact(docs)` —
    pass it when the caller already computed (and ideally cached) the
    digest aggregation, e.g. the clean-corpus capstone, so the scan
    isn't repeated. `sh` (optional) is a cached
    `doc_shingle_hashes(docs)` relation over the FULL corpus (RAW —
    the guard is applied here, so the stop-shingle df counts every
    copy) — callers that already shingled (e.g.
    `minhash_estimate_pairs`) pass it so this query doesn't run a
    second shingling pass; it is restricted to the representative
    docs internally (a doc's shingles depend only on its text, so the
    anti-join is exact). Full-corpus df is also what keeps the
    pre-grouping result-transparent: identical text ⇒ identical raw
    AND filtered shingle sets ⇒ identical signature/bands/jaccard, so
    the oracle needs no rep logic.
    """
    return _expand_exact_dups(
        *_lsh_rep_pairs(docs, threshold, clusters, bands, rows, sh, max_df)
    )


def _lsh_rep_pairs(
    docs: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    clusters: DataFrame | None = None,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    sh: DataFrame | None = None,
    max_df: int = MAX_SHINGLE_DF,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(rep_pairs, dup_members, shf) — `minhash_lsh_pairs` before its
    exact-dup expansion: the verified (doc_a, doc_b, jaccard) pairs over
    one representative per content hash, the (doc_id, rep_id) members
    of clusters with > 1 copy, and the guarded rep-restricted shingle
    relation the pairs were verified on. A caller that needs only the
    representative level (the clean-corpus b-side drop) stops here."""
    digests = docs.select("doc_id", F.md5("text").alias("ch"))
    if clusters is None:
        clusters = dedup_exact(docs)
    dup_members = (
        digests.join(
            clusters.filter(F.col("n_copies") > 1).select(
                F.col("content_hash").alias("ch"),
                F.col("keep_doc_id").alias("rep_id"),
            ),
            "ch",
        ).select("doc_id", "rep_id")
    )
    dup_extras = dup_members.filter(F.col("doc_id") != F.col("rep_id")).select("doc_id")

    # ONE shingling pass over the full corpus; the guarded relation
    # (filtered, rep-restricted) feeds signature generation AND
    # candidate verification AND the per-doc counts.
    if sh is None:
        sh = doc_shingle_hashes(docs).cache()
    sh = stop_shingle_filter(sh, max_df=max_df).join(
        dup_extras, "doc_id", "left_anti"
    ).cache()
    candidates = lsh_candidate_pairs(docs, bands=bands, rows=rows, shf=sh)
    return verify_jaccard(candidates, sh, sh, threshold), dup_members, sh


def _sig_band_ctes(bands: int, rows: int, src: str = "shf", keys: str = "doc_id") -> str:
    """The `sig` and `bands` CTEs — the SQL twin of
    `minhash_signatures` → `band_relation`, grouped by `keys` over the
    guarded shingle CTE `src`. Shared by every LSH oracle."""
    sig_aggs = ",\n    ".join(
        f"MIN(({a} * (sh % 2147483648) + {b}) % {MINHASH_PRIME}) AS h{seed}"
        for seed, (a, b) in enumerate(_mh_params(bands * rows))
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT {keys}, {band} AS band, md5({expr}) AS band_hash FROM sig".format(
            keys=keys,
            band=band,
            expr=" || ',' || ".join(
                f"h{band * rows + j}::VARCHAR" for j in range(rows)
            ),
        )
        for band in range(bands)
    )
    return f"""sig AS (
  SELECT {keys},
    {sig_aggs}
  FROM {src} GROUP BY {keys}
),
bands AS (
{band_selects}
)"""


def _screen_ctes(bands: int, rows: int) -> str:
    """`sig`, `bands` and the distinct ordered band self-join
    `candidates` over the guarded CTE `shf` — the SQL twin of
    `lsh_candidate_pairs`."""
    return f"""{_sig_band_ctes(bands, rows)},
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


def _minhash_ctes(
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
) -> str:
    """The shared CTE block (shingles → stop-shingle guard → exact →
    sig → bands → candidates) of the MinHash-LSH oracles — signatures,
    candidates, AND the exact verify all over the df ≤ max_df filtered
    universe, mirroring `minhash_lsh_pairs`."""
    return f"""{_SHINGLES_CTE},
{_pair_overlap_ctes(threshold, max_df)},
{_screen_ctes(bands, rows)}"""


def _minhash_oracle(
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> str:
    return f"""
WITH {_minhash_ctes(threshold, bands, rows)}
SELECT c.doc_a, c.doc_b, e.jaccard
FROM candidates c JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
"""


def minhash_estimate_pairs(
    docs: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Estimator audit: every LSH-verified near-dup pair with the
    MinHash Jaccard ESTIMATE (fraction of agreeing signature
    components, Broder 1997 — unbiased, sd ≈ √(j(1−j)/k)) next to the
    exact Jaccard. Monitoring |ĵ − j| on the verified sample is how a
    production dedup validates its signature width k without
    re-verifying the corpus — a drift in the error distribution means
    the hash family or the shingle universe changed.

    Determinism: n_agree is an integer 0..k; est and err are single
    double divisions/subtractions of exact inputs rounded to 6 dp.
    Scale: rides `minhash_lsh_pairs` (banded screen + keyed verify);
    the signature join adds two broadcast-size equi-joins keyed by
    doc id — pair count is near-dup density, not corpus size."""
    k = bands * rows
    sh = doc_shingle_hashes(docs).cache()
    pairs = minhash_lsh_pairs(docs, threshold=threshold, bands=bands, rows=rows, sh=sh)
    # Agreement is measured on the SAME signatures the screen banded:
    # over the stop-shingle-guarded universe, so ĵ estimates the
    # guarded jaccard the verify reports.
    sig = minhash_signatures(docs, sh=stop_shingle_filter(sh), n_perm=k)
    arr = F.array(*[F.col(f"h{i}") for i in range(k)])
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), arr.alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), arr.alias("sig_b"))
    n_agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = n_agree.cast("double") / F.lit(float(k))
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(est, 6).alias("mh_est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("mh_err"),
        )
    )


def lsh_recall_audit(
    docs: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Empirical recall of the banded-LSH screen against the exact
    guarded near-dup set at the operator's own threshold — ONE row
    (n_true_pairs, n_candidates, n_verified, recall6).

    This is the runtime complement to the analytic S-curve contract
    (`test_lsh_collision_probability_curve` asserts
    P(collide | s=0.5) ≥ 0.9 from the (b, r) constants): a standing
    deployment runs this on a SAMPLED slice — n_true_pairs enumerates
    the exact sharing-pair universe, the thing the LSH screen
    exists to avoid — and alarms when measured recall drifts from the
    curve (hash-family or shingle-universe change). That sampled
    deployment is runnable as `lsh_recall_audit_sampled`
    (registry: dedup_lsh_recall_audit_sampled); this full-universe
    form is the audit-fixture tool.

    Determinism: three exact counts + one round-6 ratio of integers.
    Scale: the three relations are one shared shingling pass; the
    final row is three single-row aggregates cross-joined (bounded,
    whitelisted scalar-broadcast shape)."""
    sh = doc_shingle_hashes(docs).cache()
    true_pairs = ngram_jaccard_pairs(
        docs, threshold=threshold, max_df=max_df, sh=sh
    ).select("doc_a", "doc_b")
    cands = lsh_candidate_pairs(
        docs, bands=bands, rows=rows, shf=stop_shingle_filter(sh, max_df=max_df)
    ).cache()
    hits = true_pairs.join(cands, ["doc_a", "doc_b"])
    nt = true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_verified"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_verified",
            F.when(F.col("n_true_pairs") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.col("n_verified") / F.col("n_true_pairs"), 6)
            )
            .alias("recall6"),
        )
    )


def _lsh_recall_audit_oracle(
    threshold: float = NEARDUP_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> str:
    """Oracle twin of `lsh_recall_audit`: the guarded exact pairs
    (`exact`, the truth set) and the banded candidates, counted."""
    return f"""
WITH {_minhash_ctes(threshold, bands, rows, max_df)},
hits AS (
  SELECT t.doc_a, t.doc_b FROM exact t
  JOIN candidates c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT
  (SELECT COUNT(*) FROM exact)::BIGINT AS n_true_pairs,
  (SELECT COUNT(*) FROM candidates)::BIGINT AS n_candidates,
  (SELECT COUNT(*) FROM hits)::BIGINT AS n_verified,
  CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
       ELSE ROUND((SELECT COUNT(*) FROM hits) * 1.0
                  / (SELECT COUNT(*) FROM exact), 6)
  END AS recall6
"""


RECALL_SAMPLE_MOD = 4  # audit slice = 1/4 of docs by multiplicative hash


# The sampling hash must be PAIRWISE independent for adjacent ids,
# not merely uniform. A Knuth multiplicative hash fails this no
# matter which bits are kept: the low bits literally equal
# doc_id % 2^s (K ≡ 1 mod 16), and even a high-bit range selection
# h(x) < 2^32/m can never keep x AND x+1, because h(x+1) = h(x) + K
# (mod 2^32) is a fixed stride — the two acceptance windows
# [0, 2^32/m) and [2^32−K, 2^32−K+2^32/m) are disjoint for m ≥ 2.
# Scale fixtures plant near-duplicates at ADJACENT doc ids, so a
# multiplicative slice strips the exact signal the sampled recall
# audit exists to monitor. md5 of the decimal id string avalanches
# (no linear structure), is byte-identical in Spark and DuckDB, and
# involves no 64-bit arithmetic that could overflow on huge ids.
# Fixed-width lowercase hex compares lexicographically == numerically,
# so "first 4 hex chars < 0x10000/m" is an exact 1/m slice whenever
# m divides 2^16.
def _hex_slice_bound(sample_mod: int) -> str:
    assert 65536 % sample_mod == 0, "sample_mod must divide 2^16"
    return format(65536 // sample_mod, "04x")


def _hash_slice_sql(sample_mod: int, col: str = "doc_id") -> str:
    return f"substr(md5({col}::VARCHAR), 1, 4) < '{_hex_slice_bound(sample_mod)}'"


def _hash_slice_predicate(sample_mod: int) -> Column:
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.lit(
        _hex_slice_bound(sample_mod)
    )


def _hash_sampled(docs: DataFrame, sample_mod: int) -> DataFrame:
    """Deterministic doc slice: keep docs whose md5(doc_id-as-string)
    hex digest starts below 0x10000/m in its first four hex chars —
    an exact 1/m fraction (m | 2^16) selected by a hash with real
    avalanche. An md5 slice (rather than a multiplicative hash) is
    load-bearing: multiplicative hashes of consecutive integers form
    a fixed-stride sequence, so any residue OR range selection on
    them can never keep two ADJACENT ids — and the scale fixtures
    plant near-dup pairs at adjacent ids, which such a slice would
    silently strip from the audit's truth set. md5 of the decimal
    string is byte-identical in Spark and DuckDB and overflow-free
    for any id."""
    return docs.filter(_hash_slice_predicate(sample_mod))


def lsh_recall_audit_sampled(
    docs: DataFrame,
    sample_mod: int = RECALL_SAMPLE_MOD,
    threshold: float = NEARDUP_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """`lsh_recall_audit` over a deterministic 1/sample_mod hash-slice
    of the corpus — the RUNNABLE form of the docstring's "a standing
    deployment runs this on a SAMPLED slice": the truth side's exact
    sharing-pair enumeration is confined to the slice, so its pair
    universe shrinks ~quadratically (1/m² of the full audit) while the
    measured recall remains an unbiased estimate of the screen's
    recall (both screen and truth see the same slice, and LSH collision
    probability per pair is independent of which docs surround it).
    Full-universe mode (`lsh_recall_audit`) stays registered as the
    audit-fixture tool."""
    return lsh_recall_audit(
        _hash_sampled(docs, sample_mod),
        threshold=threshold,
        max_df=max_df,
        bands=bands,
        rows=rows,
    )


def _lsh_recall_audit_sampled_oracle(
    sample_mod: int = RECALL_SAMPLE_MOD,
    threshold: float = NEARDUP_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> str:
    """Sampled twin: the full-audit oracle with its corpus scan
    replaced by the hash-slice CTE (the only `FROM documents` in the
    composed SQL is the shingle CTE's scan)."""
    full = _lsh_recall_audit_oracle(
        threshold=threshold, max_df=max_df, bands=bands, rows=rows
    )
    assert full.count("FROM documents") == 1
    sliced = full.replace("FROM documents", "FROM sampled_docs", 1)
    return sliced.replace(
        "WITH ",
        f"""WITH sampled_docs AS (
  SELECT * FROM documents
  WHERE {_hash_slice_sql(sample_mod)}
),
""",
        1,
    )


def _minhash_estimate_oracle(
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> str:
    """Oracle twin of `minhash_estimate_pairs`: the `_minhash_oracle`
    CTE pipeline re-joined to the signature relation for the
    agreement count."""
    k = bands * rows
    agree_sum = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH {_minhash_ctes(threshold, bands, rows)},
verified AS (
  SELECT c.doc_a, c.doc_b, e.jaccard
  FROM candidates c JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
)
SELECT v.doc_a, v.doc_b, v.jaccard,
       ROUND(({agree_sum}) / {k}.0, 6) AS mh_est,
       ROUND(ABS(({agree_sum}) / {k}.0 - v.jaccard), 6) AS mh_err
FROM verified v
JOIN sig sa ON sa.doc_id = v.doc_a
JOIN sig sb ON sb.doc_id = v.doc_b
"""


def _band_collisions(
    docs: DataFrame, bands: int, rows: int, max_df: int, shf: DataFrame | None
) -> tuple[DataFrame, list[Column]]:
    """One row per band collision of the self-screen, as `band_join`'s
    (rows, pair) with pair = (doc_a, doc_b): guard → signature → bands
    → ordered band self-join, NOT deduplicated. The shared body of
    `lsh_candidate_pairs` (distinct pairs) and
    `lsh_collision_multiplicity` (rows counted per pair); parameters as
    documented there."""
    if shf is None:
        shf = stop_shingle_filter(doc_shingle_hashes(docs), max_df=max_df)
    band_rel = band_relation(
        minhash_signatures(docs, sh=shf, n_perm=bands * rows), bands=bands, rows=rows
    )
    return band_join(band_rel, band_rel, ordered=True)


def lsh_candidate_pairs(
    docs: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
    shf: DataFrame | None = None,
) -> DataFrame:
    """UNVERIFIED banded-LSH candidate pairs (doc_a < doc_b): every
    pair colliding in ≥1 band of the bands·rows MinHash signature,
    computed over the df ≤ max_df guarded shingle universe (see
    `minhash_lsh_pairs` — the guard bounds every band bucket at
    ~max_df docs and aligns the S-curve with the guarded measure the
    verifiers report). This is the screen half of `minhash_lsh_pairs`,
    exposed for the recall audit and the screen's cost observables.
    `shf` shares an already-guarded relation (e.g. `minhash_lsh_pairs`'
    rep-restricted one, whose df must count full-corpus copies, or
    `stop_shingle_filter` over a cached raw shingle relation); without
    it the screen shingles `docs` and guards at `max_df` itself."""
    hits, pair = _band_collisions(docs, bands, rows, max_df, shf)
    return hits.select(*pair).distinct()


def lsh_collision_multiplicity(
    docs: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
    shf: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_bands) — every banded-LSH candidate pair with
    its band-collision MULTIPLICITY (how many of the `bands` bands the
    pair collides in). Same screen construction as
    `lsh_candidate_pairs`; the multiplicity is what `distinct` throws
    away, and it is the cost observable that matters at scale:
    sum(n_bands) IS the band self-join's output row count — the
    shuffle/spill driver the sf100 adjudication measured at 986M rows
    for b=24,r=3 (LSH_SF100_PLAN_r11.json) — while count(*) is the
    distinct-candidate count the exact verifier pays per row."""
    hits, pair = _band_collisions(docs, bands, rows, max_df, shf)
    return hits.groupBy(*pair).agg(F.count(F.lit(1)).alias("n_bands"))


def lsh_candidate_volume(
    docs: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """ONE row (band_pair_rows, n_candidates) — the LSH screen's cost
    observables at the given operating point (r11 verdict stretch #8:
    the hazard gates catch plan STRUCTURE, not the ~N²·P(s_bg)
    background-collision tail; this query makes candidate volume a
    hash-gated NUMBER, so an operating-point regression fails an
    external check, not a round).

    band_pair_rows = band self-join output rows (pre-dedup; the
    shuffle driver), n_candidates = distinct candidate pairs (the
    exact-verify driver). Structural invariant, tested in
    tests/test_lsh_candidate_volume.py: band_pair_rows ≤
    n_docs·bands·(max_df−1)/2 — every doc sits in `bands` buckets of
    ≤ max_df docs each (the stop-shingle guard's provable bound), so
    volume is LINEAR in corpus size with a bands·max_df constant,
    never the unguarded N².

    Scale shape: the banded join + one ≤-pair-count-sized partial
    aggregation; the one-row result is the only thing collected."""
    mult = lsh_collision_multiplicity(docs, bands=bands, rows=rows, max_df=max_df)
    return mult.agg(
        F.coalesce(F.sum("n_bands"), F.lit(0)).cast("long").alias("band_pair_rows"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )


def _lsh_candidate_volume_oracle(
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
) -> str:
    """Oracle twin of `lsh_candidate_volume`: the shared minhash CTEs'
    band relation, self-joined and counted with and without dedup."""
    return f"""
WITH {_minhash_ctes(bands=bands, rows=rows, max_df=max_df)},
colls AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT
  CAST((SELECT COUNT(*) FROM colls) AS BIGINT) AS band_pair_rows,
  CAST((SELECT COUNT(*) FROM (SELECT DISTINCT doc_a, doc_b FROM colls)) AS BIGINT)
    AS n_candidates
"""


# --- sharp-tail operating point (measured verdict: default wins) -------------
# r11 verdict directive #1 asked whether r=4 (b=54 keeps P(0.5) =
# 1-(1-0.5^4)^54 ≈ 0.969 ≥ the 0.9 recall contract) kills the
# third-decade candidate blowup the r11 probe attributed to the
# banded join's ~N²·P(s_bg) background tail. MEASURED ANSWER
# (LSH_SCALE_SWEEP_r12.json, three decades, full-corpus candidate
# volumes + slice-audited recall + wall): **NO — the default b24r3
# wins at every measured decade on the realistic Heaps fixture.** At
# sf100 (5M docs) b54r4 cuts candidates only 92.8M → 85.0M (−8%)
# while DOUBLING band-join output rows (990M → 2,053M; every doc
# carries 54 bands instead of 24), costing +37% wall (330 → 452 s)
# and −3 recall points (0.955 → 0.923). Root cause REFINED from r11:
# the dominant candidate mass is NOT low-similarity background
# (where r=4's s^4-vs-s^3 per-band rate would cut ~s_bg× ≈ 20×) but
# NEAR-THRESHOLD MID-SIMILARITY pairs (3-gram Jaccard 0.2–0.45) that
# the sqrt-Heaps vocabulary makes ~N²-many — and any screen honoring
# the ≥0.9 recall contract at threshold 0.5 must keep non-trivial
# collision probability there (S-curve monotonicity). The lever that
# actually moves volume at scale is the MEASURE, not the banding:
# 5-gram shingles cut sf10 candidates 92× (7.80M → 85.0k,
# LSH_K5_PROBE_r12.json) — but 5-gram Jaccard is a STRICTER near-dup
# definition (slice truth 4,006 → 59 pairs), so that is a contract
# change the caller must opt into, not a default.
#
# This point is therefore pinned NOT as "the scale default" but as
# the sharp-S-curve variant for corpora whose candidate cost is
# genuinely background-dominated (real web corpora with near-zero
# background similarity — the regime the synthetic fixture
# under-represents): on the background-dominated gate fixture
# (tests/test_lsh_candidate_volume.py) it cuts candidates 2×
# (268 → 131). Small-SF cost of its k=216 signature:
# LSH_TUNING_r11.json (k=96 was already +36% over k=72 at sf0.1).
LSH_SCALE_BANDS = 54
LSH_SCALE_ROWS = 4


def lsh_screened_jaccard_pairs(
    docs: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """`ngram_jaccard_pairs`' measure (Jaccard over the df ≤ `max_df`
    filtered shingle universe) at `threshold`, reported only for pairs
    the banded-LSH screen surfaces — which is exactly
    `minhash_lsh_pairs`. Kept as its own registry entry; its oracle is
    `_minhash_oracle`, which states the result as candidates ⋈ exact."""
    return minhash_lsh_pairs(
        docs, threshold=threshold, clusters=clusters, bands=bands, rows=rows, max_df=max_df
    )


# --- SimHash -------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: token-frequency-weighted bit majority.

    One groupBy(doc) with 60 conditional sums — no bit-level explosion.
    The sums and the bit assembly are SQL strings: one Py4J call each,
    not one per Column node, for the same plan.
    """
    tok = (
        explode_nonnull(spread(docs), ["doc_id"], tokenize_normalized("text"), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", hash60(F.col("token")))
    )
    bit_sums = [
        F.expr(f"sum(cnt * ((shiftright(h, {i}) & 1) * 2 - 1)) AS b{i}")
        for i in range(SIMHASH_BITS)
    ]
    sim = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i}L ELSE 0L END" for i in range(SIMHASH_BITS)
    )
    return tok.groupBy("doc_id").agg(*bit_sums).selectExpr("doc_id", f"{sim} AS simhash")


def _simhash_oracle_signature_sql() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(cnt * (((h >> {i}) & 1) * 2 - 1)) AS b{i}" for i in range(SIMHASH_BITS)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
tc AS (
  SELECT doc_id, token, COUNT(*) AS cnt, {hash60_sql('token')} AS h
  FROM tok GROUP BY doc_id, token
),
bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM tc GROUP BY doc_id
)
SELECT doc_id, {sim_expr} AS simhash FROM bits
"""


def hamming_near_pairs(
    sig: DataFrame,
    hash_col: str,
    max_hamming: int,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(a, b, hamming) — every pair of a (doc_id, `hash_col`) relation
    of 60-bit hashes within hamming distance `max_hamming`, a < b. The
    one near-dup screen of the hamming family (`simhash_near_dups`,
    `multimodal_phash_neardup`, `image_phash_neardup`).

    Banded: each hash splits into HAMMING_BANDS bands of 15 bits in
    `band_join`'s (band, band_hash) form, and candidates come from the
    ordered band self-join — a keyed shuffle, never a cross product.
    By pigeonhole, ≤ HAMMING_BANDS − 1 differing bits leave at least
    one band intact, so the banded set is EXACT (the O(n²) popcount
    scan of the oracles, `_hamming_pairs_sql`). At HAMMING_BANDS
    differing bits or more a pair can differ in every band and never
    collide, so such a `max_hamming` raises ValueError instead of
    silently under-reporting.

    The popcount filter runs BEFORE the distinct: hamming is a pure
    function of the pair, so duplicate collision rows agree on it and
    the reorder is result-identical, but the distinct's exchange then
    carries only the ≤ max_hamming pairs instead of the banded fan-out
    (a band value shared by m docs makes m² collision rows). Callers
    cache `sig` when it is costly to recompute: it feeds both join
    sides."""
    if max_hamming >= HAMMING_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming}: banding is exact only below "
            f"{HAMMING_BANDS} differing bits"
        )
    bits = SIMHASH_BITS // HAMMING_BANDS
    band_structs = ", ".join(
        f"named_struct('band', {band}, 'band_hash', "
        f"shiftright({hash_col}, {band * bits}) & {(1 << bits) - 1})"
        for band in range(HAMMING_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id", hash_col, f"explode(array({band_structs})) AS b"
    ).selectExpr("doc_id", hash_col, "b.band", "b.band_hash")
    hits, pair = band_join(bands, bands, a, b, ordered=True)
    hamming = F.bit_count(F.col(f"l.{hash_col}").bitwiseXOR(F.col(f"r.{hash_col}")))
    return (
        hits.select(*pair, hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _hamming_pairs_sql(src: str, hash_col: str, max_hamming: int, a: str, b: str) -> str:
    """Oracle twin of `hamming_near_pairs` over the (doc_id, `hash_col`)
    relation `src`: the O(n²) popcount scan. It states the result, not
    the banding under test — the two agree because banding is exact
    below HAMMING_BANDS differing bits."""
    xor = f"bit_count(xor(x.{hash_col}, y.{hash_col}))"
    return f"""SELECT x.doc_id AS {a}, y.doc_id AS {b}, CAST({xor} AS BIGINT) AS hamming
FROM {src} x JOIN {src} y ON x.doc_id < y.doc_id
WHERE {xor} <= {max_hamming}"""


def simhash_near_dups(docs: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """(doc_a, doc_b, hamming) — near-dup pairs by SimHash hamming
    distance ≤ max_hamming, through the exact banded screen
    `hamming_near_pairs`."""
    return hamming_near_pairs(simhash_signatures(docs), "simhash", max_hamming)


def _simhash_pairs_oracle() -> str:
    return f"""
WITH sig AS ({_simhash_oracle_signature_sql()})
{_hamming_pairs_sql("sig", "simhash", HAMMING_MAX, "doc_a", "doc_b")}
"""


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


INCR_BATCH_MOD = 7  # doc_id % 7 == 0 plays the "incoming batch" role


def dedup_incremental(
    corpus: DataFrame, batch: DataFrame
) -> DataFrame:
    """Incremental-ingest dedup: classify every INCOMING doc against
    the EXISTING corpus by content digest — 'exact_dup' (content
    already in the corpus), 'batch_dup' (first copy seen inside this
    batch wins, later copies flagged), or 'new'. This is the
    production ingestion shape: the corpus is never re-deduplicated;
    the batch is screened against it.

    Scale: the corpus reduces to a DISTINCT digest relation (16-byte
    rows) before any join; both checks are keyed joins on uniform md5
    digests — a left-semi against corpus digests and a min-doc_id
    window within the batch. No all-pairs anything."""
    corpus_digests = corpus.select(F.md5("text").alias("content_hash")).distinct()
    b = batch.select("doc_id", F.md5("text").alias("content_hash"))
    first_in_batch = b.groupBy("content_hash").agg(
        F.min("doc_id").alias("first_doc_id")
    )
    flagged = (
        b.join(
            corpus_digests.withColumn("in_corpus", F.lit(True)),
            "content_hash",
            "left",
        )
        .join(first_in_batch, "content_hash")
    )
    return flagged.select(
        "doc_id",
        "content_hash",
        F.when(F.col("in_corpus"), F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("first_doc_id"), F.lit("batch_dup"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )


def _corpus_and_batch(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """The incremental queries' (corpus, batch) split of the corpus."""
    docs = _docs(spark, sf_dir)
    in_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    return docs.filter(~in_batch), docs.filter(in_batch)


DEDUP_INCREMENTAL_ORACLE = f"""
WITH batch AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
  WHERE doc_id % {INCR_BATCH_MOD} = 0
),
corpus_digests AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents
  WHERE doc_id % {INCR_BATCH_MOD} <> 0
),
firsts AS (
  SELECT content_hash, MIN(doc_id) AS first_doc_id FROM batch GROUP BY 1
)
SELECT b.doc_id, b.content_hash,
       CASE WHEN c.content_hash IS NOT NULL THEN 'exact_dup'
            WHEN b.doc_id <> f.first_doc_id THEN 'batch_dup'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN corpus_digests c ON c.content_hash = b.content_hash
JOIN firsts f ON f.content_hash = b.content_hash
"""


SPAN_TOKENS = 8
SPAN_MIN_DF = 2


def boilerplate_spans(
    docs: DataFrame, n: int = SPAN_TOKENS, min_df: int = SPAN_MIN_DF
) -> DataFrame:
    """Cross-document repeated span detection: token n-gram windows
    (n=8, stride 1) that appear in ≥ `min_df` distinct documents —
    the span-level boilerplate signal web-corpus pipelines remove
    (navigation chrome, license footers, templated headers) before
    doc-level dedup even runs.

    Emits (span, df, example_doc = lowest doc_id containing it).
    Production flow: anti-join each doc's spans against this relation,
    drop covered regions, re-score quality.

    Scale: per-doc distinct spans (array level, no shuffle), then ONE
    groupBy(span) — high-cardinality uniform key. A span shared by the
    whole corpus is one hot-ish group of size df, but the aggregation
    is (count, min) — partial-agg collapses it map-side, so unlike a
    self-join there is no df² blowup anywhere."""
    spans = explode_nonnull(
        tokenized_docs(docs),
        ["doc_id"],
        F.array_distinct(word_shingles(F.col("ts"), n=n)),
        "span",
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("df") >= min_df)
    )


BOILERPLATE_SPANS_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
idx AS (
  SELECT doc_id, ts,
         unnest(generate_series(1, greatest(len(ts) - {SPAN_TOKENS - 1}, 0))) AS i
  FROM toks
),
spans AS (
  SELECT DISTINCT doc_id,
         {" || ' ' || ".join(f"ts[i+{j}]" for j in range(SPAN_TOKENS))} AS span
  FROM idx
)
SELECT span, COUNT(*) AS df, MIN(doc_id) AS example_doc
FROM spans GROUP BY span HAVING COUNT(*) >= {SPAN_MIN_DF}
"""


def _dup_window_relations(docs: DataFrame, n: int, min_df: int):
    """Shared core of `remove_boilerplate` and `exact_substr_spans`:
    the cached token relation, the positional n-token window relation,
    and the duplicated-span set (df counts DISTINCT docs — a span
    repeated within one doc counts once)."""
    toks = tokenized_docs(docs).cache()
    win = posexplode_nonnull(
        toks, ["doc_id"], word_shingles(F.col("ts"), n=n), "i0", "span"
    )
    dup = (
        win.select("doc_id", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("span")
    )
    return toks, win, dup


def _dup_window_ctes(n: int, min_df: int) -> str:
    """The oracle twin of `_dup_window_relations` (CTEs toks/idx/win/
    dup), shared verbatim by both oracles."""
    span_expr = " || ' ' || ".join(f"ts[i+{j}]" for j in range(n))
    return f"""toks AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
idx AS (
  SELECT doc_id, ts,
         unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS i
  FROM toks
),
win AS (
  SELECT doc_id, i, {span_expr} AS span
  FROM idx
),
dup AS (
  SELECT span FROM (SELECT DISTINCT doc_id, span FROM win)
  GROUP BY span HAVING COUNT(*) >= {min_df}
)"""


def remove_boilerplate(
    docs: DataFrame, n: int = SPAN_TOKENS, min_df: int = SPAN_MIN_DF
) -> DataFrame:
    """APPLY the boilerplate filter: strip every token covered by a
    cross-document repeated span (`boilerplate_spans`) from each
    document — the cleaning step that consumes the detection relation.

    Returns (doc_id, clean_text, n_removed): clean_text is the
    surviving normalized tokens in original order ('' when everything
    was boilerplate or the doc had no tokens); n_removed counts
    stripped tokens. Overlapping span occurrences union their covered
    positions (a token is removed once, not once per covering span).

    Scale: the span relation joins the per-doc window relation keyed
    by the span string (no broadcast assumption — AQE may choose one);
    covered-position masking is per-row array logic over the flagged
    START positions only (collect_set per doc of ≤ n_tokens ints), so
    no positions-level shuffle exists. The only shuffles are the span
    df-aggregation, the window⋈span join, and the per-doc start
    aggregation — all keyed, all uniform. The token relation is built
    ONCE (cached: window derivation + final masking join both read
    it), and the span-df relation derives from the same window rows
    instead of re-running `boilerplate_spans`' separate
    tokenize+shingle pass."""
    toks, win, spans = _dup_window_relations(docs, n, min_df)
    flagged = (
        win.join(spans, "span")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("i0")).alias("starts"))
    )
    # Window k (0-based posexplode index) starts at token k+1 (1-based)
    # and covers [k+1, k+n]; with 0-based token position p (from the
    # filter lambda) coverage is s <= p < s+n for start index s.
    starts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("ts"),
        lambda t, p: ~F.exists(starts, lambda s: (p >= s) & (p < s + F.lit(n))),
    )
    # NULL text: ts is NULL, so clean_text and n_removed are NULL in
    # both engines (size() would report -1 under non-ANSI Spark —
    # DETERMINISM.md rule 35).
    return (
        toks.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("clean_text"),
            (null_safe_size(F.col("ts")) - null_safe_size(kept))
            .cast("long")
            .alias("n_removed"),
        )
    )


REMOVE_BOILERPLATE_ORACLE = f"""
WITH {_dup_window_ctes(SPAN_TOKENS, SPAN_MIN_DF)},
flag AS (SELECT DISTINCT w.doc_id, w.i FROM win w JOIN dup b USING (span)),
cov AS (
  SELECT DISTINCT doc_id, i + j AS p
  FROM flag, unnest(generate_series(0, {SPAN_TOKENS - 1})) AS t(j)
),
pos AS (
  SELECT doc_id, p, ts[p] AS tok
  FROM toks, unnest(generate_series(1, len(ts))) AS t(p)
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
  WHERE cov.p IS NULL
),
keptagg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN t.ts IS NOT NULL
            THEN COALESCE(k.clean_text, '') END AS clean_text,
       CAST(len(t.ts) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
FROM toks t LEFT JOIN keptagg k USING (doc_id)
"""


def exact_substr_spans(
    docs: DataFrame, n: int = SPAN_TOKENS, min_df: int = SPAN_MIN_DF
) -> DataFrame:
    """ExactSubstr-style maximal duplicated spans (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): for each document, the MAXIMAL contiguous token
    regions every position of which lies inside some n-token window
    that also occurs in ≥ `min_df` distinct documents. Where
    `boilerplate_spans` reports the windows themselves and
    `remove_boilerplate` applies the mask, this emits the merged
    intervals — the paper's unit of analysis (it reports duplicated
    SUBSTRINGS of length ≥ 50 tokens, not fixed windows; n=50 there,
    n=8 here to suit the short synthetic docs).

    Rows: (doc_id, span_start, span_end, span_tokens, span_text) with
    1-based inclusive token positions. Overlapping or exactly-adjacent
    duplicated windows merge into one span (with equal-length windows,
    sorted starts s_prev < s_cur are one region iff s_cur <= s_prev+n).

    Scale: the two relations are the span-df aggregation (uniform
    high-cardinality key, map-side partial) and the duplicated-start
    relation; island-merging is a window function PARTITIONED BY
    doc_id (per-doc rows ≈ token count — no global sort, no skew
    beyond document length), and the text reconstruction is one keyed
    join back to the cached token relation. Same shuffle inventory as
    `remove_boilerplate` plus the per-doc window."""
    toks, win, dup = _dup_window_relations(docs, n, min_df)
    starts = win.join(dup, "span").select("doc_id", "i0")
    w = Window.partitionBy("doc_id").orderBy("i0")
    # First row: lag is null → null comparison → otherwise-branch 0.
    brk = F.when(F.col("i0") > F.lag("i0").over(w) + n, F.lit(1)).otherwise(F.lit(0))
    islands = starts.withColumn("brk", brk).withColumn(
        "g", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy("doc_id", "g").agg(
        (F.min("i0") + 1).cast("long").alias("span_start"),
        (F.max("i0") + n).cast("long").alias("span_end"),
    )
    return spans.join(toks, "doc_id").select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        F.array_join(
            F.slice(
                F.col("ts"),
                F.col("span_start").cast("int"),
                (F.col("span_end") - F.col("span_start") + 1).cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )


EXACT_SUBSTR_SPANS_ORACLE = f"""
WITH {_dup_window_ctes(SPAN_TOKENS, SPAN_MIN_DF)},
starts AS (SELECT w.doc_id, w.i FROM win w JOIN dup USING (span)),
flags AS (
  SELECT doc_id, i,
         CASE WHEN i > lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                    + {SPAN_TOKENS} THEN 1 ELSE 0 END AS brk
  FROM starts
),
isl AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM flags
),
sp AS (
  SELECT doc_id, MIN(i) AS span_start, MAX(i) + {SPAN_TOKENS - 1} AS span_end
  FROM isl GROUP BY doc_id, g
)
SELECT sp.doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens,
       array_to_string(t.ts[span_start:span_end], ' ') AS span_text
FROM sp JOIN toks t USING (doc_id)
"""


def dedup_incremental_neardup(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """Incremental NEAR-dup screening: find incoming batch documents
    whose shingle-Jaccard similarity to some existing corpus document
    meets `threshold` — the production ingestion shape for semantic
    dedup, complementing `dedup_incremental`'s exact-digest screen.

    Result: (batch_doc, corpus_doc, jaccard) — every qualifying
    cross-side pair (a batch doc can match several corpus docs).

    Scale design: the corpus never joins the batch directly. The corpus
    reduces to its banded LSH index (4 rows/doc of (band, band_hash) —
    in production this relation is PERSISTED once and reused across
    batches, exactly like the digest store in `dedup_incremental`);
    candidates come from the batch-bands ⋈ corpus-bands equi-join
    (shuffle keyed by band hash, fan-out bounded by band-key
    frequency), and only candidates are verified with exact Jaccard
    over the two shingle relations — keyed joins throughout, never a
    batch × corpus product. Screen the corpus with `dedup_exact` first
    (store one representative per digest) so m identical corpus docs
    can't make a band key m-hot — same guard `minhash_lsh_pairs`
    applies internally.

    Recall contract is LSH's: a cross-side pair is reported only if it
    collides in ≥1 of the `bands` bands (same contract as
    `dedup_minhash_lsh`; the oracle mirrors it). The default (b=24,
    r=3) gives ≥0.96 collision probability at the default threshold.

    Stop-shingle guard: the CORPUS side owns the stop-list (shingles
    with corpus-df > `max_df` — in production this is a statistic of
    the persisted index, exactly like the band relation), and BOTH
    sides' signatures and shingle sets are filtered by it before
    banding/verification. The guard bounds every corpus-side band
    bucket at ~max_df docs (see `minhash_lsh_pairs` — the raw-shingle
    form measured a 12k-doc bucket at 500k docs), so candidate
    fan-out is ≤ ~max_df per batch band row: linear in batch size
    regardless of index size. A shingle hot only in the BATCH is kept
    (its corpus-side bucket is still small, which is what bounds the
    join), and the reported jaccard is over the corpus-stop-filtered
    universe on both sides."""
    n_perm = bands * rows
    csh_raw = doc_shingle_hashes(corpus).cache()
    stop = F.broadcast(stop_shingles(csh_raw, max_df))
    csh = csh_raw.join(stop, "sh", "left_anti").cache()
    bsh = doc_shingle_hashes(batch).join(stop, "sh", "left_anti").cache()
    cband = band_relation(
        minhash_signatures(corpus, sh=csh, n_perm=n_perm), bands=bands, rows=rows
    )
    bband = band_relation(
        minhash_signatures(batch, sh=bsh, n_perm=n_perm), bands=bands, rows=rows
    )
    hits, pair = band_join(bband, cband, "batch_doc", "corpus_doc")
    candidates = hits.select(*pair).distinct()
    return verify_jaccard(
        candidates, bsh, csh, threshold, names=("batch_doc", "corpus_doc", "n_b", "n_c")
    )


def _incremental_neardup_oracle(
    threshold: float = NEARDUP_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> str:
    return f"""
WITH {_SHINGLES_CTE},
sided_raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % {INCR_BATCH_MOD} = 0 THEN 'b' ELSE 'c' END AS side,
         sh
  FROM shh
),
sided AS (
  SELECT doc_id, side, sh FROM sided_raw
  WHERE sh NOT IN (
    SELECT sh FROM sided_raw WHERE side = 'c'
    GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF}
  )
),
{_sig_band_ctes(bands, rows, src="sided", keys="doc_id, side")},
candidates AS (
  SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
  FROM bands b JOIN bands c
    ON b.band = c.band AND b.band_hash = c.band_hash
   AND b.side = 'b' AND c.side = 'c'
),
cnt AS (SELECT doc_id, side, COUNT(*) AS n FROM sided GROUP BY doc_id, side),
pairs AS (
  SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc, COUNT(*) AS n_common
  FROM sided b JOIN sided c ON b.sh = c.sh AND b.side = 'b' AND c.side = 'c'
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT cd.batch_doc, cd.corpus_doc,
         {_jaccard6_sql("cb.n", "cc.n")} AS jaccard
  FROM candidates cd
  JOIN pairs p ON p.batch_doc = cd.batch_doc AND p.corpus_doc = cd.corpus_doc
  JOIN cnt cb ON cb.doc_id = cd.batch_doc AND cb.side = 'b'
  JOIN cnt cc ON cc.doc_id = cd.corpus_doc AND cc.side = 'c'
) WHERE jaccard >= {threshold}
"""


def shingle_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram novelty: of a doc's distinct word-3-gram
    shingles, how many are UNIQUE to it corpus-wide (df = 1), and the
    unique fraction — the standard memorization/boilerplate triage
    signal (high novelty = mostly original text; low novelty = text
    assembled from n-grams other documents also carry). Docs with no
    shingles (< 3 tokens after P1/P2 normalization) emit no row, same
    as every shingle-family operator.

    Scale shape: the df aggregation shuffles on `sh`; the sh ⋈ df join
    is on the SAME key, so the exchange is reused, and the right side
    is unique-per-sh so the join fans out exactly 1 — output stays
    |sh|-sized regardless of how hot a shingle is (contrast the pair
    enumerators, which need the stop-shingle guard). The final per-doc
    aggregation is map-side partial on doc_id. `novelty` is the raw
    IEEE quotient of two exact ints (≤ 2^53) — correctly-rounded and
    bit-identical cross-engine, no ROUND needed."""
    sh = doc_shingle_hashes(docs).cache()  # scanned twice: df agg + join probe
    df_rel = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_rel, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .withColumn(
            "novelty", F.col("n_unique").cast("double") / F.col("n_shingles")
        )
    )


SHINGLE_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_CTE},
dfreq AS (SELECT sh, COUNT(*) AS df FROM shh GROUP BY sh)
SELECT s.doc_id,
       COUNT(*)::BIGINT AS n_shingles,
       SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS novelty
FROM shh s JOIN dfreq d USING (sh)
GROUP BY s.doc_id
"""


def source_overlap_matrix(
    docs: DataFrame, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Cross-source near-duplicate matrix: for every unordered source
    pair, how many verified near-dup pairs (LSH screen + exact
    filtered-universe Jaccard ≥ threshold) span them — the curation
    view that tells you WHICH ingest sources overlap (mirror sites,
    re-crawls, syndicated content) before deciding per-source mixture
    weights. Diagonal rows (source_x = source_y) count within-source
    duplication.

    Scale shape: the pair relation is LSH-candidate-scoped (never
    all-pairs, band buckets bounded by the stop-shingle guard — see
    `minhash_lsh_pairs`); the two source lookups join on high-card
    doc_id; the final aggregation's key domain is |sources|² but
    partial aggregation reduces each task's output to that domain
    before the shuffle. Source is NULL-coalesced to '' on both engines
    so LEAST/GREATEST never see NULL."""
    pairs = minhash_lsh_pairs(docs, threshold=threshold)
    src = docs.select("doc_id", F.coalesce("source", F.lit("")).alias("src"))
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("src").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("src").alias("src_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def cluster_size_histogram(docs: DataFrame) -> DataFrame:
    """Log2-bucketed histogram of exact-duplicate cluster sizes — the
    one-screen corpus-duplication health view (how much of the corpus
    is singletons vs 2-copy mirrors vs 1000-copy boilerplate blasts),
    the summary a curation run reads BEFORE deciding dedup policy.
    bucket = floor(log2(n_copies)) computed by integer bit-length
    (`length(bin(n)) - 1`), never float log2 — exact cross-engine for
    the full 64-bit count domain. bucket 0 = unique docs, bucket k =
    clusters of size [2^k, 2^(k+1)).

    Scale shape: one shuffle on the md5 digest (uniform keys, same as
    `dedup_exact`); the second aggregation's key domain is ≤ 64
    buckets, so map-side partial aggregation collapses each task's
    output to that domain before a negligible shuffle."""
    sizes = docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    bucket = (F.length(F.expr("bin(n_copies)")) - 1).cast("int")
    return (
        sizes.select(bucket.alias("bucket"), "n_copies")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_copies").cast("long").alias("n_docs"),
        )
    )


CLUSTER_HISTOGRAM_ORACLE = """
WITH s AS (SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1)
SELECT (length(printf('%b', n_copies)) - 1)::INT AS bucket,
       COUNT(*)::BIGINT AS n_clusters,
       SUM(n_copies)::BIGINT AS n_docs
FROM s GROUP BY 1
"""


# Deterministic pseudo-sample for the contamination probe: docs whose
# id is ≡ 0 (mod 101) stand in for "the benchmark set" (~1% of any
# corpus, non-empty at every test SF). Real deployments substitute the
# actual eval-set relation; the operator's shape is independent of how
# the benchmark side is selected.
CONTAMINATION_MODULUS = 101


def contamination_probe(
    docs: DataFrame, modulus: int = CONTAMINATION_MODULUS
) -> DataFrame:
    """Train/eval decontamination probe: for each "benchmark" document
    (deterministic ~1% sample, see CONTAMINATION_MODULUS), the fraction
    of its distinct word-3-gram shingles that also occur in ANY
    non-benchmark document — the standard check that a training corpus
    has not absorbed the eval set (high contamination = the benchmark
    text is reconstructible from the corpus; GPT-3 appendix-C-style
    n-gram decontamination re-expressed as one relational pass).
    Benchmark docs with no shingles (< 3 tokens) emit no row, matching
    every shingle-family operator.

    Scale shape: the corpus-side distinct-shingle set shuffles on `sh`;
    the probe join is on the SAME key so the exchange is reused, and
    the right side is unique-per-sh (distinct), so the join fans out
    exactly 1 — output stays |benchmark shingles|-sized no matter how
    hot a shingle is. No stop-shingle guard needed: there is no pair
    enumeration, only per-shingle membership. The final per-doc
    aggregation is map-side partial on doc_id. `contamination` is a
    raw IEEE int/int quotient — bit-identical cross-engine."""
    sh = doc_shingle_hashes(docs)
    is_bench = (F.col("doc_id") % modulus) == 0
    bench = sh.where(is_bench)
    corpus = (
        sh.where(~is_bench).select("sh").distinct().withColumn("hit", F.lit(1))
    )
    return (
        bench.join(corpus, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.col("n_contaminated").cast("double") / F.col("n_shingles"),
        )
    )


CONTAMINATION_PROBE_ORACLE = f"""
WITH {_SHINGLES_CTE},
bench AS (SELECT doc_id, sh FROM shh WHERE doc_id % {CONTAMINATION_MODULUS} = 0),
corpus AS (
  SELECT DISTINCT sh FROM shh WHERE doc_id % {CONTAMINATION_MODULUS} <> 0
)
SELECT b.doc_id,
       COUNT(*)::BIGINT AS n_shingles,
       SUM(CASE WHEN c.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       SUM(CASE WHEN c.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
         AS contamination
FROM bench b LEFT JOIN corpus c ON b.sh = c.sh
GROUP BY b.doc_id
"""


def _source_overlap_oracle(threshold: float = NEARDUP_THRESHOLD) -> str:
    return f"""
WITH nd AS ({_minhash_oracle(threshold=threshold)}),
src AS (SELECT doc_id, COALESCE(source, '') AS src FROM documents)
SELECT LEAST(a.src, b.src) AS source_x,
       GREATEST(a.src, b.src) AS source_y,
       COUNT(*)::BIGINT AS n_pairs
FROM nd
JOIN src a ON nd.doc_a = a.doc_id
JOIN src b ON nd.doc_b = b.doc_id
GROUP BY 1, 2
"""


DEDUP_QUERIES = [
    QueryDef("dedup_exact", lambda s, d: dedup_exact(_docs(s, d)), DEDUP_EXACT_ORACLE),
    QueryDef(
        "dedup_incremental_batch",
        lambda s, d: dedup_incremental(*_corpus_and_batch(s, d)),
        DEDUP_INCREMENTAL_ORACLE,
    ),
    QueryDef(
        "text_boilerplate_spans",
        lambda s, d: boilerplate_spans(_docs(s, d)),
        BOILERPLATE_SPANS_ORACLE,
    ),
    QueryDef(
        "text_remove_boilerplate",
        lambda s, d: remove_boilerplate(_docs(s, d)),
        REMOVE_BOILERPLATE_ORACLE,
    ),
    QueryDef(
        "dedup_exact_substr_spans",
        lambda s, d: exact_substr_spans(_docs(s, d)),
        EXACT_SUBSTR_SPANS_ORACLE,
    ),
    QueryDef(
        "dedup_incremental_neardup",
        lambda s, d: dedup_incremental_neardup(*_corpus_and_batch(s, d)),
        _incremental_neardup_oracle(),
    ),
    QueryDef(
        "dedup_ngram_jaccard",
        lambda s, d: ngram_jaccard_pairs(_docs(s, d)),
        NGRAM_JACCARD_ORACLE,
        headline=True,
    ),
    QueryDef(
        "dedup_containment",
        lambda s, d: containment_pairs(_docs(s, d)),
        CONTAINMENT_ORACLE,
    ),
    QueryDef(
        "dedup_weighted_cosine",
        lambda s, d: weighted_cosine_pairs(_docs(s, d)),
        WEIGHTED_COSINE_ORACLE,
    ),
    QueryDef(
        "dedup_minhash_lsh",
        lambda s, d: minhash_lsh_pairs(_docs(s, d)),
        _minhash_oracle(),
        headline=True,
    ),
    # Estimator audit: ĵ (signature agreement) vs exact j on the
    # verified near-dup sample — the k-width health check a standing
    # dedup deployment monitors.
    QueryDef(
        "dedup_minhash_estimate",
        lambda s, d: minhash_estimate_pairs(_docs(s, d)),
        _minhash_estimate_oracle(),
    ),
    # Empirical screen recall vs the exact guarded near-dup set — the
    # runtime complement to the analytic S-curve contract.
    QueryDef(
        "dedup_lsh_recall_audit",
        lambda s, d: lsh_recall_audit(_docs(s, d)),
        _lsh_recall_audit_oracle(),
    ),
    # The deployable default: same audit on a deterministic 1/m
    # hash-slice, shrinking the truth side's pair enumeration ~m².
    QueryDef(
        "dedup_lsh_recall_audit_sampled",
        lambda s, d: lsh_recall_audit_sampled(_docs(s, d)),
        _lsh_recall_audit_sampled_oracle(),
    ),
    # ngram_jaccard's measure restricted to LSH-screened pairs — the
    # same operator and oracle as dedup_minhash_lsh.
    QueryDef(
        "dedup_lsh_screened_jaccard",
        lambda s, d: lsh_screened_jaccard_pairs(_docs(s, d)),
        _minhash_oracle(),
    ),
    # The screen's cost observables as a hash-gated number (see
    # lsh_candidate_volume): candidate-volume regressions fail the
    # external gate, not a scale round.
    QueryDef(
        "dedup_lsh_candidate_volume",
        lambda s, d: lsh_candidate_volume(_docs(s, d)),
        _lsh_candidate_volume_oracle(),
    ),
    # The sharp-S-curve (r=4) variant as a first-class, externally
    # hashed query — same semantics contract as dedup_minhash_lsh.
    # Measured verdict (LSH_SCALE_BANDS comment block +
    # LSH_SCALE_SWEEP_r12.json): the DEFAULT wins at every tested
    # decade on the Heaps fixture; this point is for
    # background-collision-dominated corpora, where it cuts candidate
    # volume 2× (gate-fixture measurement).
    QueryDef(
        "dedup_minhash_lsh_scaled",
        lambda s, d: minhash_lsh_pairs(
            _docs(s, d), bands=LSH_SCALE_BANDS, rows=LSH_SCALE_ROWS
        ),
        _minhash_oracle(bands=LSH_SCALE_BANDS, rows=LSH_SCALE_ROWS),
    ),
    QueryDef(
        "simhash_signatures",
        lambda s, d: simhash_signatures(_docs(s, d)),
        _simhash_oracle_signature_sql(),
    ),
    QueryDef(
        "simhash_near_dups",
        lambda s, d: simhash_near_dups(_docs(s, d)),
        _simhash_pairs_oracle(),
    ),
    QueryDef(
        "text_shingle_novelty",
        lambda s, d: shingle_novelty(_docs(s, d)),
        SHINGLE_NOVELTY_ORACLE,
    ),
    QueryDef(
        "dedup_source_overlap_matrix",
        lambda s, d: source_overlap_matrix(_docs(s, d)),
        _source_overlap_oracle(),
    ),
    QueryDef(
        "dedup_cluster_size_histogram",
        lambda s, d: cluster_size_histogram(_docs(s, d)),
        CLUSTER_HISTOGRAM_ORACLE,
    ),
    QueryDef(
        "text_contamination_probe",
        lambda s, d: contamination_probe(_docs(s, d)),
        CONTAMINATION_PROBE_ORACLE,
    ),
]
