"""Model-based data selection: hashed-feature classifier inference and
DSIR importance weighting (extends the reference's text surface the
same way operators/textstats does — the reference stops at
tokenize+normalize, SURVEY.md §2.2 / tema1a/src/main.cpp:96-118).

Two operators the LLM-curation stacks built on these ideas actually
run at corpus scale:

* ``quality_logreg`` — inference of a LINEAR quality classifier over
  hashing-trick bag-of-words features (the fastText shape, Joulin et
  al. 2017 "Bag of Tricks for Efficient Text Classification"): token →
  feature bucket via a hash, score = sigmoid(mean bucket weight). The
  weights here are a deterministic md5-derived stand-in for trained
  parameters — what matters (and what is tested) is the INFERENCE
  PLAN: model = a small broadcast relation, scoring = one token-stream
  join + per-doc aggregate, no UDF anywhere. Swapping in real trained
  weights changes the table contents, not the plan.

* ``dsir_importance`` — Data Selection with Importance Resampling
  (Xie et al. 2023, arXiv:2302.03169): per-doc log importance weight
  log p_target(x)/p_raw(x) under hashed unigram bag-of-words language
  models with add-one smoothing, the statistic DSIR resamples raw data
  by to match a target domain. Target here = the corpus's own
  ``lang = 'en'`` slice (a self-contained, oracle-checkable target
  distribution; production passes any target relation).

Scale design (100 TB posture): the per-bucket model/log-ratio tables
are NB_FEATURES-row dims — broadcast by construction, never shuffled.
The token stream is exploded ONCE per operator, aggregated with
map-side partials on uniform keys ((doc_id) or (bucket)); no
collect(), no Python UDF, whole-stage codegen end-to-end. Determinism:
weights and counts stay INTEGER-EXACT through every aggregation; the
only float ops are one division + log/sigmoid per row at the end,
rounded to 6 decimals (queries/base.py rules — scalar double
arithmetic on identical integer operands is engine-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    TOKENS_SQL,
    hash60,
    hash60_py,
    hash60_sql,
    tokenize_normalized,
)
from apd_map_reduce_spark.plans.layout import explode_nonnull, spread
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table, local_frame

# Feature-space size for the hashing trick. 64 keeps the model dim
# oracle-printable; real classifiers use 2^18+ — ONLY the broadcast
# table size changes, the plan is identical.
NB_FEATURES = 64

# Integer weight scale: weights live in [-1_000_000, 1_000_000] and are
# divided down exactly once per doc, so every aggregation sums exact
# BIGINTs (decimal-free determinism).
_W_SCALE = 1_000_000

DSIR_TARGET_LANG = "en"


def _weight_int(bucket: int) -> int:
    """Deterministic md5-derived integer weight in [-1e6, 1e6] — the
    same 60-bit md5-prefix family as hash60 / similarity._planes,
    mirrored literally in the oracle SQL."""
    return hash60_py(f"qlw:{bucket}") % (2 * _W_SCALE + 1) - _W_SCALE


def feature_weights() -> list[tuple[int, int]]:
    """(bucket, weight_int) rows of the 'model' — the broadcast dim."""
    return [(b, _weight_int(b)) for b in range(NB_FEATURES)]


def _bucketed_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per token INSTANCE, bucket =
    hash60(token) % NB_FEATURES (hash60 is non-negative, so % == pmod
    on both engines)."""
    return explode_nonnull(
        spread(docs), ["doc_id", "lang"], tokenize_normalized("text"), "token"
    ).select(
        "doc_id",
        "lang",
        (hash60(F.col("token")) % F.lit(NB_FEATURES)).alias("bucket"),
    )


def quality_logreg(docs: DataFrame) -> DataFrame:
    """Linear quality-classifier inference: per-doc
    (doc_id, n_tokens, mean_feature_w, quality_score) with
    quality_score = round(sigmoid(mean_feature_w), 6).

    mean_feature_w = SUM(weight_int) / (n_tokens * 1e6): the numerator
    is an exact BIGINT sum (order-free), the division is ONE double op
    on exact integer operands — deterministic cross-engine. Docs whose
    normalization yields zero tokens are absent (same contract as
    text_repetition_signals).

    Plan: scan → explode → broadcast-join the NB_FEATURES-row model →
    per-doc hash aggregate. One shuffle (doc_id, uniform)."""
    spark = docs.sparkSession
    wdf = local_frame(spark, feature_weights(), "bucket LONG, wint LONG")
    scored = _bucketed_tokens(docs).join(F.broadcast(wdf), "bucket")
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("wint").alias("swint"),
    )
    mean_w = F.col("swint").cast("double") / (
        F.col("n_tokens") * F.lit(_W_SCALE)
    ).cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(mean_w, 6).alias("mean_feature_w"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w)), 6).alias("quality_score"),
    )


QUALITY_LOGREG_ORACLE = f"""
WITH wts AS (
  SELECT b AS bucket,
         {hash60_sql("'qlw:' || b::VARCHAR")}
           % {2 * _W_SCALE + 1} - {_W_SCALE} AS wint
  FROM (SELECT unnest(range({NB_FEATURES})) AS b)
),
tok AS (
  SELECT doc_id,
         unnest({TOKENS_SQL})
           AS token
  FROM documents
),
bt AS (
  SELECT doc_id,
         {hash60_sql('token')} % {NB_FEATURES} AS bucket
  FROM tok
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(wint) AS swint
  FROM bt JOIN wts USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(swint::DOUBLE / (n_tokens * {_W_SCALE})::DOUBLE, 6) AS mean_feature_w,
       ROUND(1.0::DOUBLE / (1.0::DOUBLE +
             exp(-(swint::DOUBLE / (n_tokens * {_W_SCALE})::DOUBLE))), 6)
         AS quality_score
FROM agg
"""


def dsir_importance(docs: DataFrame, target_lang: str = DSIR_TARGET_LANG) -> DataFrame:
    """DSIR log importance weights: per-doc
    (doc_id, n_tokens, log_importance) with

        log_importance = Σ_tokens round(ln(p_tgt(b)/p_raw(b)), 6)

    over hashed unigram LMs with add-one smoothing:
    p(b) = (c_b + 1) / (n + NB_FEATURES). The per-bucket log-ratio is
    computed once on EXACT integer cross-products —
    ln((tc+1)·(n_raw+NB) / ((rc+1)·(n_tgt+NB))) — rounded to 6
    decimals, then summed per doc as exact decimals (order-free).
    Positive = doc looks more like the target distribution than the
    raw corpus; DSIR resamples raw data ∝ exp(log_importance).

    Plan: ONE explode feeds both distribution aggregates (64-group
    hash aggs, map-side partials) and the scoring join; the log-ratio
    table is a ≤NB_FEATURES-row broadcast dim; the two corpus-total
    scalars join it via single-row broadcasts (bounded, whitelisted in
    the blanket cartesian gate). One doc_id shuffle for the final
    aggregate."""
    bt = _bucketed_tokens(docs).cache()
    raw = bt.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt = bt.filter(F.col("lang") == target_lang).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("tc")
    )
    totals = bt.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum((F.col("lang") == target_lang).cast("long")).alias("n_tgt"),
    )
    # Every observed bucket exists in `raw` (it was built from ALL
    # tokens); target counts may be missing → left join, 0-fill.
    ratio = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1)
                        * (F.col("n_raw") + F.lit(NB_FEATURES))
                    ).cast("double")
                    / (
                        (F.col("rc") + 1) * (F.col("n_tgt") + F.lit(NB_FEATURES))
                    ).cast("double")
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("lr"),
        )
    )
    return (
        bt.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr").cast("double").alias("log_importance"),
        )
    )


DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest({TOKENS_SQL})
           AS token
  FROM documents
),
bt AS (
  SELECT doc_id, lang,
         {hash60_sql('token')} % {NB_FEATURES} AS bucket
  FROM tok
),
raw AS (SELECT bucket, COUNT(*) AS rc FROM bt GROUP BY bucket),
tgt AS (SELECT bucket, COUNT(*) AS tc FROM bt
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
totals AS (
  SELECT COUNT(*) AS n_raw,
         SUM((lang = '{DSIR_TARGET_LANG}')::BIGINT) AS n_tgt
  FROM bt
),
ratio AS (
  SELECT bucket,
         CAST(ROUND(ln(
           ((COALESCE(tc, 0) + 1) * (n_raw + {NB_FEATURES}))::DOUBLE
           / ((rc + 1) * (n_tgt + {NB_FEATURES}))::DOUBLE
         ), 6) AS DECIMAL(12,6)) AS lr
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN totals
)
SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr)::DOUBLE AS log_importance
FROM bt JOIN ratio USING (bucket)
GROUP BY doc_id
"""


SELECTION_QUERIES = [
    QueryDef(
        "text_quality_logreg",
        lambda s, d: quality_logreg(load_table(s, d, "documents")),
        QUALITY_LOGREG_ORACLE,
    ),
    QueryDef(
        "text_dsir_weights",
        lambda s, d: dsir_importance(load_table(s, d, "documents")),
        DSIR_ORACLE,
    ),
]
