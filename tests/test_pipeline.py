"""Clean-corpus pipeline: composition behavior + snapshot sink."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.pipeline import (
    clean_corpus,
    materialize_clean_snapshot,
)
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_clean_corpus_drops_planted_duplicates(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    # plant an exact duplicate (id 9001 copies doc 0's text) and a
    # doctored near-duplicate is implicit in synthetic data overlap
    first_text = docs.filter(F.col("doc_id") == 0).select("text").first().text
    planted = docs.unionByName(
        spark.createDataFrame(
            [(9001, first_text, "en", "srcX", len(first_text))],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )
    )
    keep = {r.doc_id for r in clean_corpus(planted).collect()}
    assert 9001 not in keep, "exact duplicate must drop (higher id)"
    assert 0 in keep, "canonical copy (min id) must survive"


def _words(group: int, n: int = 20) -> list[str]:
    # Letters-only vocabulary private to `group`: no shingle is shared
    # across groups, and every token counts as alphabetic.
    return ["".join(chr(97 + int(c)) for c in f"{group:02d}{i:02d}") + "x" for i in range(n)]


def test_clean_corpus_drops_near_dups_at_rep_level(spark, tmp_path):
    # The b-side drop reads the representative-level LSH pairs; it must
    # equal both the DuckDB oracle and the drop over the pairs expanded
    # across exact-dup clusters.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apd_map_reduce_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        dedup_exact,
        minhash_lsh_pairs,
    )
    from apd_map_reduce_spark.operators.pipeline import (
        MIN_ALPHA_RATIO,
        MIN_TOKENS,
        NEAR_DUP_THRESHOLD,
        _clean_corpus_oracle,
    )
    from apd_map_reduce_spark.operators.textstats import quality_score

    a, b, c, d = (" ".join(_words(g)) for g in range(4))
    a_near = " ".join(_words(0)[:-1] + ["zzzx"])  # jaccard 17/19 with a
    d_near = " ".join(_words(3)[:-1] + ["zzyx"])
    texts = {
        1: a, 10: a, 5: a_near,  # cluster {1, 10} near singleton 5
        20: b, 21: b, 22: b,  # intra-cluster pairs, no near-dup
        30: d, 31: d_near,  # plain near-dup pair of singletons
        400: None, 401: None,  # NULL-text pair
    }
    # A cluster of max_df + 1 copies: every shingle is a stop-shingle.
    texts.update({100 + i: c for i in range(MAX_SHINGLE_DF + 1)})
    ids = sorted(texts)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [texts[i] for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["s"] * len(ids),
                "n_chars": pa.array([len(texts[i] or "") for i in ids], pa.int64()),
            }
        ),
        path,
    )
    docs = spark.read.parquet(path)

    got = {r.doc_id for r in clean_corpus(docs).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracle = {r[0] for r in con.execute(_clean_corpus_oracle()).fetchall()}

    expanded = minhash_lsh_pairs(docs, threshold=NEAR_DUP_THRESHOLD)
    pairs = {(r.doc_a, r.doc_b) for r in expanded.collect()}
    # The fixture exercises every expansion branch the drop skips.
    assert {(1, 5), (5, 10), (20, 21), (21, 22), (30, 31)} <= pairs
    assert not {p for p in pairs if p[0] >= 100 or p[1] >= 100}
    keep_exact = dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id"))
    good = quality_score(docs).filter(
        (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_token_ratio") >= MIN_ALPHA_RATIO)
    )
    expanded_drop = (
        docs.join(keep_exact, "doc_id", "left_semi")
        .join(expanded.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        .join(good, "doc_id", "left_semi")
    )
    parent_formula = {r.doc_id for r in expanded_drop.collect()}

    assert got == oracle == parent_formula == {1, 20, 30, 100}


def test_snapshot_roundtrip(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "snap")
    n = materialize_clean_snapshot(docs, out)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert set(back.columns) == set(docs.columns)
    keep = {r.doc_id for r in clean_corpus(docs).select("doc_id").collect()}
    assert {r.doc_id for r in back.select("doc_id").collect()} == keep


def test_snapshot_runs_lsh_once(spark, tmp_path):
    # The count rides the write as an observation: exactly one SQL
    # execution holds the (band, band_hash) self-join, and none is a
    # count() that would re-run the exact -> LSH -> quality DAG.
    docs = load_table(spark, SF_SMOKE, "documents")
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    materialize_clean_snapshot(docs, str(tmp_path / "snap"))
    bus.waitUntilEmpty()
    execs = store.executionsList(before, store.executionsCount() - before)
    execs = [execs.apply(i) for i in range(execs.size())]
    band_join = re.compile(
        r"Left keys \[2\]: \[band#\d+, band_hash#\d+\]\n"
        r"Right keys \[2\]: \[band#\d+, band_hash#\d+\]"
    )
    lsh = [e for e in execs if band_join.search(e.physicalPlanDescription())]
    assert len(lsh) == 1, [e.description() for e in execs]
    assert not [e for e in execs if e.description().startswith("count at")]


_SNAPSHOT_COMPILES = """
import json, sys
from apd_map_reduce_spark.operators.pipeline import materialize_clean_snapshot
from apd_map_reduce_spark.session import get_spark
from apd_map_reduce_spark.sources.tables import load_table
spark = get_spark(master="local[4]", shuffle_partitions=4)
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for _ in range(5):
    before = metric.getCount()
    materialize_clean_snapshot(load_table(spark, sys.argv[1], "documents"), sys.argv[2])
    counts.append(metric.getCount() - before)
print(json.dumps(counts))
"""


def test_repeated_snapshot_compiles_almost_nothing(tmp_path):
    # The session's generated-class cache holds the snapshot's plan, so
    # runs after the first find their classes compiled. The cache is
    # JVM-wide and earlier tests warm it, so run 1 is only a cold
    # baseline in a fresh JVM. With Spark's 100-entry default, runs 2-5
    # recompile 70-105 classes together (run 1: ~105).
    root = Path(__file__).resolve().parents[1]
    env = {**os.environ, "PYTHONPATH": str(root), "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", _SNAPSHOT_COMPILES, SF_SMOKE, str(tmp_path / "snap")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts[0] > 0 and sum(counts[1:]) <= counts[0] / 2, counts


@pytest.mark.parametrize(
    "degrade",
    [
        pytest.param(lambda d: d.withColumn("text", F.lit("a b")), id="all_low_quality"),
        pytest.param(lambda d: d.filter(F.lit(False)), id="empty"),
    ],
)
def test_snapshot_observed_count_degenerate(spark, tmp_path, degrade):
    # Nothing survives: the observation must still complete (AQE can
    # prune the empty relation at runtime) rather than leave
    # Observation.get waiting forever.
    docs = degrade(load_table(spark, SF_SMOKE, "documents"))
    out = str(tmp_path / "snap")
    result = []
    t = threading.Thread(
        target=lambda: result.append(materialize_clean_snapshot(docs, out)), daemon=True
    )
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "materialize_clean_snapshot blocked on its observation"
    assert result == [0]


def test_signature_and_bands_match_oracle_ctes(spark):
    # Every h* value of the signature and every band of band_relation
    # equals the DuckDB `sig` / `bands` CTEs (EXCEPT both ways), not
    # only the final LSH pairs.
    from apd_map_reduce_spark.operators.dedup import (
        _SHINGLES_CTE,
        LSH_BANDS,
        LSH_ROWS,
        MAX_SHINGLE_DF,
        _sig_band_ctes,
        band_relation,
        doc_shingle_hashes,
        minhash_signatures,
        stop_shingle_filter,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    sig = minhash_signatures(docs, sh=stop_shingle_filter(doc_shingle_hashes(docs)))
    bands = band_relation(sig).selectExpr(
        "doc_id",
        "band",
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(band_hash.k{j} AS STRING)" for j in range(LSH_ROWS))
        + ")) AS band_hash",
    )
    spark_sig = sig.toPandas()
    spark_bands = bands.toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    ctes = f"""WITH {_SHINGLES_CTE},
shf AS (
  SELECT doc_id, sh FROM shh
  WHERE sh NOT IN (SELECT sh FROM shh GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF})
),
{_sig_band_ctes(LSH_BANDS, LSH_ROWS)}"""
    cols = ", ".join(spark_sig.columns)
    assert len(spark_sig.columns) == 1 + LSH_BANDS * LSH_ROWS
    assert len(spark_sig) > 0 and len(spark_bands) == LSH_BANDS * len(spark_sig)
    for rel, frame, sel in [
        ("sig", spark_sig, cols),
        ("bands", spark_bands, "doc_id, band, band_hash"),
    ]:
        con.register("spark_rel", frame)
        for q in [
            f"{ctes} SELECT {sel} FROM spark_rel EXCEPT SELECT {sel} FROM {rel}",
            f"{ctes} SELECT {sel} FROM {rel} EXCEPT SELECT {sel} FROM spark_rel",
        ]:
            assert con.execute(q).fetchall() == [], rel


def test_dedup_incremental_neardup_finds_planted_overlap(spark):
    from apd_map_reduce_spark.operators.dedup import dedup_incremental_neardup

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before night falls on the hills"
    )
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated text about database engines "
                            "query planners and distributed shuffle execution layers")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base),  # identical -> jaccard 1.0 with 100
            (2, "independent fresh content with no overlap whatsoever in any "
                "shingle because every single trigram here is brand new today"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.batch_doc, r.corpus_doc): r.jaccard
        for r in dedup_incremental_neardup(corpus, batch).collect()
    }
    assert got == {(1, 100): 1.0}


def test_boilerplate_spans_planted_footer(spark):
    from apd_map_reduce_spark.operators.dedup import boilerplate_spans

    footer = "all rights reserved contact us terms of service apply here"
    docs = spark.createDataFrame(
        [
            (1, "unique article one body text content words " + footer),
            (2, "different second article body with other words " + footer),
            (3, "third document has completely independent tokens only"),
        ],
        "doc_id long, text string",
    )
    got = boilerplate_spans(docs, n=8, min_df=2).collect()
    spans = {r.span: (r.df, r.example_doc) for r in got}
    # the footer yields 3 shared 8-token windows, plus 1 more because
    # both docs happen to precede it with "words" (an 11-token shared
    # suffix -> 4 windows)
    assert all(df == 2 and ex == 1 for df, ex in spans.values())
    assert any("terms of service" in s for s in spans)
    assert len(spans) == 4


def test_exact_substr_spans_merges_suffix_windows(spark):
    # The 11-token shared suffix yields 4 overlapping duplicated
    # windows; ExactSubstr must merge them into ONE maximal span.
    from apd_map_reduce_spark.operators.dedup import exact_substr_spans

    footer = "all rights reserved contact us terms of service apply here"
    docs = spark.createDataFrame(
        [
            (1, "unique article one body text content words " + footer),
            (2, "different second article body with other words " + footer),
            (3, "third document has completely independent tokens only"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.span_text)
        for r in exact_substr_spans(docs, n=8, min_df=2).collect()
    }
    shared = "words " + footer  # 11 tokens, positions 7..17 in both docs
    assert got == {
        1: (7, 17, 11, shared),
        2: (7, 17, 11, shared),
    }


def test_exact_substr_spans_adjacent_blocks_merge_gap_splits(spark):
    # Doc 1 shares block X with doc 2 and block Y with doc 3. When X
    # and Y sit back-to-back the two duplicated regions are one
    # contiguous span (merge at s_cur == s_prev + n exactly); a single
    # unshared token between them must split the result in two.
    from apd_map_reduce_spark.operators.dedup import exact_substr_spans

    x = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    y = "one two three four five six seven eight"  # 8 tokens
    adjacent = spark.createDataFrame(
        [(1, x + " " + y), (2, x + " tail filler padding"), (3, "lead intro " + y)],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in exact_substr_spans(adjacent, n=8, min_df=2).collect()
    }
    assert spans == {(1, 1, 16, 16), (2, 1, 8, 8), (3, 3, 10, 8)}

    gapped = spark.createDataFrame(
        [(1, x + " filler " + y), (2, x + " tail padding"), (3, "lead intro " + y)],
        "doc_id long, text string",
    )
    doc1 = sorted(
        (r.span_start, r.span_end, r.span_text)
        for r in exact_substr_spans(gapped, n=8, min_df=2)
        .filter("doc_id = 1")
        .collect()
    )
    assert doc1 == [(1, 8, x), (10, 17, y)]


def test_exact_substr_spans_are_exactly_the_removed_regions(spark):
    # Cross-operator invariant on real data: remove_boilerplate masks
    # precisely the union of the maximal duplicated spans, so per doc
    # n_removed == Σ span_tokens (and docs absent from the span
    # relation must have n_removed == 0).
    from apd_map_reduce_spark.operators.dedup import (
        exact_substr_spans,
        remove_boilerplate,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    spans = {
        r.doc_id: r.total
        for r in exact_substr_spans(docs)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("total"))
        .collect()
    }
    removed = {
        r.doc_id: r.n_removed for r in remove_boilerplate(docs).collect()
    }
    assert spans, "fixture must contain duplicated spans"
    for doc_id, n_removed in removed.items():
        assert n_removed == spans.get(doc_id, 0), doc_id


def test_remove_boilerplate_strips_only_covered_tokens(spark):
    from apd_map_reduce_spark.operators.dedup import remove_boilerplate

    footer = "all rights reserved contact us terms of service"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "first article body text " + footer),
            (2, "second article other words " + footer),
            (3, "third doc with no shared spans at all present"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.clean_text, r.n_removed) for r in remove_boilerplate(docs).collect()}
    assert got[1] == ("first article body text", 8)
    assert got[2] == ("second article other words", 8)
    assert got[3][1] == 0 and got[3][0].startswith("third doc")


def test_remove_boilerplate_blanks_exact_duplicates(spark):
    # Exact duplicates share EVERY window, so both copies reduce to ''.
    from apd_map_reduce_spark.operators.dedup import remove_boilerplate

    text = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.clean_text, r.n_removed) for r in remove_boilerplate(docs).collect()}
    assert got == {1: ("", 10), 2: ("", 10)}


def test_dedup_incremental_classifies_three_ways(spark):
    from apd_map_reduce_spark.operators.dedup import dedup_incremental

    corpus = spark.createDataFrame(
        [(100, "alpha beta"), (101, "gamma delta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "alpha beta"),    # already in corpus -> exact_dup
            (2, "fresh content"), # new
            (3, "fresh content"), # dup WITHIN the batch -> batch_dup
            (4, "also new"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in dedup_incremental(corpus, batch).collect()}
    assert got == {1: "exact_dup", 2: "new", 3: "batch_dup", 4: "new"}


def test_example_pipeline_end_to_end(spark, tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    from training_data_pipeline import build_clean_shards

    out = str(tmp_path / "shards")
    stats = build_clean_shards(spark, SF_SMOKE, out, n_shards=4)
    assert stats["raw_docs"] == 500
    assert 0 < stats["published"] <= stats["pre_mix"] <= stats["survivors"] <= stats["raw_docs"]
    back = spark.read.json(out)
    assert back.count() == stats["published"]
    assert {"doc_id", "text", "shard"} <= set(back.columns)


def test_observed_metrics_ride_one_action(spark):
    # plans/observe.py: metrics attached to two plan nodes materialize
    # from the SINGLE downstream action and equal recomputed values.
    from apd_map_reduce_spark.plans.observe import observed

    docs = load_table(spark, SF_SMOKE, "documents")
    gated = docs.filter(F.col("n_chars") >= 100)
    gated, gate_obs = observed(
        gated,
        "gate",
        n_docs=F.count(F.lit(1)),
        total_chars=F.sum("n_chars"),
    )
    shrunk = gated.select("doc_id")
    shrunk, out_obs = observed(shrunk, "out", n=F.count(F.lit(1)))
    shrunk.write.format("noop").mode("overwrite").save()

    expected = docs.filter(F.col("n_chars") >= 100)
    exp_n = expected.count()
    exp_chars = expected.agg(F.sum("n_chars")).first()[0]
    assert gate_obs.get == {"n_docs": exp_n, "total_chars": exp_chars}
    assert out_obs.get == {"n": exp_n}


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted wholesale inside a much longer one: the
    asymmetric containment must flag it near 1.0 while symmetric
    Jaccard stays far below the dedup threshold — the exact case
    dedup_containment exists for."""
    from apd_map_reduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    # letter suffixes: the P1 normalizer strips digits, so numeric
    # suffixes would collapse every token to the same word
    def w(stem, i):
        return stem + "".join(chr(ord("a") + int(c)) for c in str(i))

    quote = " ".join(f"{w('alpha', i)} {w('beta', i)} {w('gamma', i)}" for i in range(8))
    long_doc = (
        " ".join(f"{w('filler', i)} {w('noise', i)} {w('pad', i)}" for i in range(60))
        + " " + quote + " "
        + " ".join(f"{w('tail', i)} {w('coda', i)}" for i in range(60))
    )
    docs = spark.createDataFrame(
        [
            (1, quote, "en", "srcA", len(quote)),
            (2, long_doc, "en", "srcA", len(long_doc)),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    cont = containment_pairs(docs).collect()
    assert len(cont) == 1
    row = cont[0]
    assert (row.doc_a, row.doc_b) == (1, 2)
    assert row.cont_a_in_b >= 0.99, "quote fully contained in the long doc"
    assert row.cont_b_in_a < 0.3, "long doc is NOT contained in the quote"
    jac = ngram_jaccard_pairs(docs).collect()
    assert not jac, (
        f"symmetric Jaccard at {JACCARD_THRESHOLD} must miss the "
        "small-in-large case containment is for"
    )


def test_weighted_cosine_downweights_boilerplate(spark):
    """Two pairs with IDENTICAL raw shingle overlap (24 shared
    shingles, ~10 unique words each side): one pair shares a
    boilerplate block that 22 of 26 corpus docs carry (df=22 — low
    enough to survive the hard MAX_SHINGLE_DF cut, so set-based
    Jaccard counts it at full weight), the other shares a block found
    ONLY in that pair (df=2). Set Jaccard scores both pairs ~0.55 and
    flags both; idf-weighted cosine must keep the rare-overlap pair
    (idf² ≈ 4.5 per shared shingle ⇒ cos ≈ 0.63) and drop the
    boilerplate pair (idf = ln(25/23) ⇒ cos ≈ 0.003). An exact-dup
    pair over its own private vocabulary must score exactly 1.0
    (s_ab = s_a = s_b in the exact decimal domain)."""
    from apd_map_reduce_spark.operators.dedup import (
        ngram_jaccard_pairs,
        weighted_cosine_pairs,
    )

    def w(stem, i):
        return stem + "".join(chr(ord("a") + int(c)) for c in str(i))

    boiler = " ".join(w("boiler", i) for i in range(26))
    rare = " ".join(w("rare", i) for i in range(26))
    uniq = lambda stem: " ".join(w(stem, i) for i in range(10))  # noqa: E731
    dup_text = " ".join(w("dupword", i) for i in range(30))
    rows = [
        # background: 20 docs all carrying the boilerplate block
        *[
            (100 + i, f"{boiler} {uniq(w('bg', i))}", "en", "srcA", 0)
            for i in range(20)
        ],
        (1, f"{boiler} {uniq('ponly')}", "en", "srcA", 0),  # boilerplate pair
        (2, f"{boiler} {uniq('qonly')}", "en", "srcA", 0),
        (3, f"{rare} {uniq('xonly')}", "en", "srcA", 0),    # rare-block pair
        (4, f"{rare} {uniq('yonly')}", "en", "srcA", 0),
        (5, dup_text, "en", "srcA", 0),                     # exact dup pair
        (6, dup_text, "en", "srcA", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    cos = {(r.doc_a, r.doc_b): r.cosine for r in weighted_cosine_pairs(docs).collect()}
    assert (3, 4) in cos and cos[(3, 4)] >= 0.5, f"rare-overlap pair lost: {cos}"
    assert (5, 6) in cos and cos[(5, 6)] == 1.0, "exact dup must score round-6 1.0"
    assert (1, 2) not in cos, "boilerplate-only overlap must fall below threshold"
    assert all(a not in (1, 2) or b not in (1, 2) for a, b in cos)
    jac = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) in jac and (3, 4) in jac, (
        "set-based Jaccard sees both pairs identically — the contrast "
        "this operator exists for"
    )


def test_lsh_screened_jaccard_agrees_with_minhash_on_planted_dups(spark):
    """The composed screen+verify entry must report the planted
    high-similarity pairs the LSH family's recall contract covers:
    an exact-dup pair (jaccard 1.0) and a one-token-edit near-dup."""
    from apd_map_reduce_spark.operators.dedup import (
        lsh_screened_jaccard_pairs,
    )

    base = " ".join(f"tok{chr(ord('a') + i % 26)}{chr(ord('a') + i // 26)} " for i in range(40))
    near = base.replace("tokba ", "tokzz ", 1)
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s", 0),
            (2, base, "en", "s", 0),
            (3, near, "en", "s", 0),
            (4, "wholly unrelated words entirely different content", "en", "s", 0),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in lsh_screened_jaccard_pairs(docs).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) in out and out[(1, 3)] > 0.8
    assert (2, 3) in out and out[(2, 3)] == out[(1, 3)]
    assert all(4 not in p for p in out)


def test_shingle_novelty_hand_counts(spark):
    # d1 "a b c d" -> {abc, bcd}; d2 "a b c e" -> {abc, bce};
    # d3 "x y z w" -> {xyz, yzw}. df: abc=2, rest=1.
    from apd_map_reduce_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d", "w"), (2, "a b c e", "w"), (3, "x y z w", "b"),
         (4, "too short", "w"), (5, None, "w")],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_unique, r.novelty)
        for r in shingle_novelty(docs).collect()
    }
    # <3-token and NULL docs emit no row (no shingles), like every
    # shingle-family operator.
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (2, 2, 1.0)}
    spark.catalog.clearCache()


def test_source_overlap_matrix_spanning_pair(spark):
    # Identical text in two sources -> exactly one near-dup pair,
    # reported under the (least, greatest) source ordering; the
    # unrelated doc contributes nothing.
    from apd_map_reduce_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "web"),
         (2, "the quick brown fox jumps", "books"),
         (3, "completely different text entirely here", "web")],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source_x, r.source_y): r.n_pairs
        for r in source_overlap_matrix(docs).collect()
    }
    assert got == {("books", "web"): 1}
    spark.catalog.clearCache()


def test_source_overlap_matrix_null_source_coalesced(spark):
    # NULL source must land in the '' bucket, not vanish through
    # LEAST/GREATEST NULL semantics.
    from apd_map_reduce_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps", None),
         (2, "the quick brown fox jumps", "web")],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source_x, r.source_y): r.n_pairs
        for r in source_overlap_matrix(docs).collect()
    }
    assert got == {("", "web"): 1}
    spark.catalog.clearCache()


def test_cluster_size_histogram_hand_counts(spark):
    # 3 copies of A (bucket 1: [2,4)), 1 copy of B, 4 copies of C
    # (bucket 2: [4,8)), 1 copy of D -> bucket 0 has 2 clusters/2 docs,
    # bucket 1 has 1/3, bucket 2 has 1/4. Bit-length bucketing, not
    # float log2.
    from apd_map_reduce_spark.operators.dedup import cluster_size_histogram

    rows = (
        [(i, "aaa", "w") for i in range(3)]
        + [(10, "bbb", "w")]
        + [(20 + i, "ccc", "w") for i in range(4)]
        + [(30, "ddd", "w")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.bucket: (r.n_clusters, r.n_docs)
        for r in cluster_size_histogram(docs).collect()
    }
    assert got == {0: (2, 2), 1: (1, 3), 2: (1, 4)}


def test_contamination_probe_hand_counts(spark):
    # Benchmark docs are doc_id % 101 == 0 -> ids 0 and 101 here.
    # doc 0 "a b c d": shingles {abc, bcd}; corpus doc 5 "a b c x"
    # carries abc -> 1 of 2 contaminated. doc 101 "p q r s": no corpus
    # doc shares a shingle -> 0 of 2. Benchmark docs never contaminate
    # each other (corpus side excludes the benchmark set).
    from apd_map_reduce_spark.operators.dedup import contamination_probe

    docs = spark.createDataFrame(
        [(0, "a b c d", "w"), (101, "p q r s", "w"),
         (5, "a b c x", "w"), (6, "u v w z", "w"), (7, "hi", "w")],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination)
        for r in contamination_probe(docs).collect()
    }
    assert got == {0: (2, 1, 0.5), 101: (2, 0, 0.0)}


def test_contamination_probe_short_benchmark_doc_emits_no_row(spark):
    # A benchmark doc with < 3 tokens has no shingles -> no row, the
    # shingle-family contract (novelty behaves the same way).
    from apd_map_reduce_spark.operators.dedup import contamination_probe

    docs = spark.createDataFrame(
        [(0, "hi", "w"), (1, "a b c d", "w")],
        "doc_id long, text string, source string",
    )
    assert contamination_probe(docs).collect() == []
