"""Contract tests for model-based data selection (quality_logreg,
dsir_importance). Value parity with DuckDB is covered by
test_oracle_parity / the selfcheck artifacts; these assert the
SEMANTICS: sigmoid range/monotonicity, hashing-trick determinism, and
DSIR's defining property — target-domain docs score higher — on a
corpus where the separation is guaranteed by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.selection import (
    DSIR_TARGET_LANG,
    NB_FEATURES,
    _W_SCALE,
    dsir_importance,
    feature_weights,
    quality_logreg,
)
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_logreg_score_is_sigmoid_of_mean_weight(spark):
    out = quality_logreg(_docs(spark)).toPandas()
    assert len(out) > 0
    # sigmoid range, and round-trip: score == round(sigmoid(mean), 6)
    assert out["quality_score"].between(0.0, 1.0).all()
    recomputed = out["mean_feature_w"].map(
        lambda m: round(1.0 / (1.0 + math.exp(-m)), 6)
    )
    # mean_feature_w is itself rounded to 6 in the output while the
    # score is sigmoid of the UNrounded mean, so the recomputation can
    # differ by up to one 1e-6 rounding step (plus float eps)
    assert (out["quality_score"] - recomputed).abs().max() <= 2e-6
    # weights live in [-1, 1] after the /1e6 scale-down → so do means
    assert out["mean_feature_w"].between(-1.0, 1.0).all()


def test_logreg_monotone_in_planted_bucket_weights(spark):
    """Two single-token docs whose tokens hash to the extreme-weight
    buckets: the max-weight doc must outscore the min-weight doc, and
    both scores must equal sigmoid(w) exactly."""
    from apd_map_reduce_spark.functions.text import hash60

    # find one probe token per bucket (deterministic scan over a small
    # candidate vocabulary; letters only so P1 normalization keeps them)
    cands = ["".join(p) for p in __import__("itertools").product("abcdefgh", repeat=3)]
    cdf = spark.createDataFrame([(c,) for c in cands], "tok STRING")
    bmap = {
        r["b"]: r["tok"]
        for r in cdf.select(
            "tok", (hash60(F.col("tok")) % F.lit(NB_FEATURES)).alias("b")
        ).collect()
    }  # later rows win; any representative is fine
    weights = dict(feature_weights())
    covered = sorted(bmap, key=lambda b: weights[b])
    lo_b, hi_b = covered[0], covered[-1]
    assert weights[lo_b] < weights[hi_b]
    docs = spark.createDataFrame(
        [(1, bmap[lo_b], "en"), (2, bmap[hi_b], "en")],
        "doc_id LONG, text STRING, lang STRING",
    )
    out = {r["doc_id"]: r for r in quality_logreg(docs).collect()}
    for doc_id, b in ((1, lo_b), (2, hi_b)):
        expect = round(1.0 / (1.0 + math.exp(-weights[b] / _W_SCALE)), 6)
        assert out[doc_id]["quality_score"] == expect
        assert out[doc_id]["n_tokens"] == 1
    assert out[2]["quality_score"] > out[1]["quality_score"]


def test_logreg_zero_token_docs_absent(spark):
    docs = spark.createDataFrame(
        [(1, "real words here", "en"), (2, "123 456 !!!", "en")],
        "doc_id LONG, text STRING, lang STRING",
    )
    ids = {r["doc_id"] for r in quality_logreg(docs).collect()}
    assert ids == {1}  # doc 2 normalizes to zero tokens (reference P1+P2)


def test_dsir_separates_planted_domains(spark):
    """Target-lang docs drawn from vocabulary A, others from B: every
    target doc must get a POSITIVE log importance (its tokens are
    concentrated in target-heavy buckets) and every other doc a
    negative one — the resampling ordering DSIR exists to provide."""
    a_words = "alpha beta gamma delta epsilon"
    b_words = "zulu yankee xray whiskey victor"
    rows = [(i, a_words, DSIR_TARGET_LANG) for i in range(10)] + [
        (100 + i, b_words, "zz") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    out = dsir_importance(docs).toPandas()
    assert len(out) == 20
    tgt = out[out["doc_id"] < 100]["log_importance"]
    other = out[out["doc_id"] >= 100]["log_importance"]
    assert (tgt > 0).all()
    assert (other < 0).all()


def test_dsir_target_lang_scores_highest_on_corpus(spark):
    """On the registry corpus the en slice IS the target distribution,
    so its mean per-token importance must be the maximum over langs."""
    docs = _docs(spark)
    out = (
        dsir_importance(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg(F.col("log_importance") / F.col("n_tokens")).alias("m"))
        .collect()
    )
    means = {r["lang"]: r["m"] for r in out}
    assert max(means, key=means.get) == DSIR_TARGET_LANG


def test_selection_plans_broadcast_the_model_dims(spark):
    """The model/log-ratio tables must join as broadcasts — a sort-merge
    exchange on a 64-row dim would shuffle the full token stream."""
    for op in (quality_logreg, dsir_importance):
        plan = op(_docs(spark))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{op.__name__}:\n{plan[:800]}"
        assert "SortMergeJoin" not in plan, f"{op.__name__}:\n{plan[:800]}"
