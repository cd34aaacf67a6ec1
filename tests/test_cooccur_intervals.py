"""Behavior tests for the co-occurrence / positional-index / interval
operators on synthetic inputs with hand-computed expectations (the
sf0.001 oracle-parity rows for phrase search are trivially empty, so
the logic is exercised here directly)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.cooccur import (
    cooccurrence_counts,
    cooccurrence_pmi,
    phrase_search,
    positional_index,
    tfidf_top_terms,
)
from apd_map_reduce_spark.operators.intervals import (
    error_click_window,
    events_time_rollup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_merge_pairs_hand_counts_and_tiebreak(spark):
    # vocab: aaab freq 2 → (a,a) 2·2=4, (a,b) 2·1=2; ab freq 1 → (a,b) 1.
    # totals: (a,a)=4, (a,b)=3; single-char word 'c' contributes no pair.
    from apd_map_reduce_spark.operators.textstats import bpe_merge_pairs

    docs = _docs(spark, [(1, "aaab aaab"), (2, "ab c")])
    got = [
        (r.rnk, r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_merge_pairs(docs).orderBy("rnk").collect()
    ]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3)]

    # Equal counts break ties on (left ASC, right ASC).
    tied = _docs(spark, [(1, "zy ab")])
    got = [
        (r.rnk, r.left_sym, r.right_sym)
        for r in bpe_merge_pairs(tied).orderBy("rnk").collect()
    ]
    assert got == [(1, "a", "b"), (2, "z", "y")]


def test_cooccurrence_counts_window2(spark):
    docs = _docs(spark, [(1, "a b c d")])
    got = {
        (r.w1, r.w2): r.pair_count
        for r in cooccurrence_counts(docs, window=2).collect()
    }
    # offset 1: (a,b)(b,c)(c,d); offset 2: (a,c)(b,d)
    assert got == {
        ("a", "b"): 1,
        ("b", "c"): 1,
        ("c", "d"): 1,
        ("a", "c"): 1,
        ("b", "d"): 1,
    }


def test_cooccurrence_unordered_key_merges_directions(spark):
    # "b a" at offset 1 must count into the same (a, b) key as "a b".
    docs = _docs(spark, [(1, "a b"), (2, "b a")])
    got = {
        (r.w1, r.w2): r.pair_count
        for r in cooccurrence_counts(docs, window=2).collect()
    }
    assert got == {("a", "b"): 2}


def test_cooccurrence_short_and_empty_docs(spark):
    docs = _docs(spark, [(1, "solo"), (2, ""), (3, "x y")])
    got = {
        (r.w1, r.w2): r.pair_count
        for r in cooccurrence_counts(docs, window=2).collect()
    }
    assert got == {("x", "y"): 1}


def test_pmi_sign(spark):
    # a and b always co-occur; a and c never do. PMI(a,b) > 0.
    docs = _docs(spark, [(i, "a b") for i in range(10)] + [(99, "c c c")])
    rows = cooccurrence_pmi(docs, min_count=1).collect()
    pmi = {(r.w1, r.w2): r.pmi for r in rows}
    assert ("a", "c") not in pmi
    assert pmi[("a", "b")] > 0


def test_phrase_search_positions_and_counts(spark):
    docs = _docs(
        spark,
        [
            (1, "slow hash batch runs slow hash batch again"),
            (2, "slow hash no batch here"),
            (3, "prefix slow hash batch"),
        ],
    )
    got = {r.doc_id: (r.n_hits, r.first_pos) for r in phrase_search(docs).collect()}
    assert got == {1: (2, 1), 3: (1, 2)}


def test_phrase_search_normalizes_like_reference(spark):
    # P1 normalization strips punctuation/case before matching.
    docs = _docs(spark, [(1, "Slow, HASH! batch?")])
    got = phrase_search(docs).collect()
    assert [(r.doc_id, r.n_hits, r.first_pos) for r in got] == [(1, 1, 1)]


def test_positional_index_postings(spark):
    docs = _docs(spark, [(1, "b a b"), (2, "a")])
    got = {r.word: (r.n_postings, r.postings) for r in positional_index(docs).collect()}
    assert got == {"a": (2, "1:2,2:1"), "b": (2, "1:1,1:3")}


def test_shard_key_rejects_negative_doc_id(spark):
    # _shard uses Spark `div` (truncates toward zero) while the DuckDB
    # oracles use `//` (floors); they agree ONLY for non-negative ids,
    # so the contract must fail loudly, not silently diverge.
    import pytest

    from apd_map_reduce_spark.operators.cooccur import _shard

    ok = spark.createDataFrame([(0,), (127,), (128,)], "doc_id long")
    assert [r.s for r in ok.select(_shard().alias("s")).collect()] == [0, 0, 1]
    bad = spark.createDataFrame([(-5,)], "doc_id long")
    with pytest.raises(Exception, match="non-negative corpus id contract"):
        bad.select(_shard().alias("s")).collect()
    # NULL ids take the same otherwise-branch (NULL >= 0 is NULL) and
    # the message must name NULL, not misdiagnose it as negative
    # (ADVICE r10).
    nul = spark.createDataFrame([(None,)], "doc_id long")
    with pytest.raises(Exception, match="negative or NULL doc_id"):
        nul.select(_shard().alias("s")).collect()


def test_tfidf_rare_term_outranks_common(spark):
    docs = _docs(
        spark,
        [(1, "common rare common"), (2, "common common"), (3, "common")],
    )
    rows = tfidf_top_terms(docs, k=1).collect()
    top = {r.doc_id: r.term for r in rows}
    # Doc 1's distinguishing term is "rare" (df=1) despite tf("common")=2.
    assert top[1] == "rare"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )


def test_error_click_window_counts_and_gap(spark):
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    ev = _events(
        spark,
        [
            (1, 7, "error", at(0), 0.0),
            (2, 7, "click", at(10), 0.0),    # in window (gap 10s)
            (3, 7, "click", at(299), 0.0),   # in window, crosses bucket
            (4, 7, "click", at(301), 0.0),   # outside window
            (5, 8, "click", at(5), 0.0),     # other user
            (6, 9, "error", at(50), 0.0),    # no clicks at all
        ],
    )
    got = {r.event_id: (r.n_clicks_5m, r.min_gap_us) for r in error_click_window(ev).collect()}
    assert got == {1: (2, 10_000_000), 6: (0, None)}


def test_error_click_window_no_duplicate_from_bucket_expansion(spark):
    # A click in the SAME bucket as the error must be counted once even
    # though the error probes two buckets.
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 1)
    ev = _events(
        spark,
        [
            (1, 1, "error", t0, 0.0),
            (2, 1, "click", t0 + datetime.timedelta(seconds=1), 0.0),
        ],
    )
    got = error_click_window(ev).collect()
    assert [(r.event_id, r.n_clicks_5m) for r in got] == [(1, 1)]


def test_events_time_rollup_grains(spark):
    t = datetime.datetime(2024, 3, 1, 5, 30, 0)
    ev = _events(
        spark,
        [
            (1, 1, "view", t, 1.0),
            (2, 1, "view", t + datetime.timedelta(hours=1), 2.0),
            (3, 1, "view", t + datetime.timedelta(days=1), 4.0),
        ],
    )
    rows = events_time_rollup(ev).collect()
    by_key = {(r.day, r.hour): (r.n_events, r.total_value) for r in rows}
    assert by_key[("2024-03-01", 5)] == (1, 1.0)
    assert by_key[("2024-03-01", None)] == (2, 3.0)
    assert by_key[(None, None)] == (3, 7.0)


def test_token_entropy_hand_docs(spark):
    import math

    from apd_map_reduce_spark.operators.textstats import token_entropy

    docs = _docs(spark, [(1, "a a a a"), (2, "a b c d")])
    got = {r.doc_id: r for r in token_entropy(docs).collect()}
    # Single repeated token -> zero entropy; uniform over 4 -> log2(4)=2.
    assert got[1].n_tokens == 4 and got[1].n_unique == 1
    assert got[1].entropy_bits == 0.0
    assert got[2].n_tokens == 4 and got[2].n_unique == 4
    assert math.isclose(got[2].entropy_bits, 2.0, abs_tol=1e-6)


def test_decayed_totals_powers_of_two(spark):
    import datetime

    from apd_map_reduce_spark.operators.intervals import decayed_user_totals

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    day = datetime.timedelta(days=1)
    rows = [
        (1, t0, 8.0),            # age 0 -> weight 1
        (1, t0 - day, 8.0),      # age 1 -> weight 1/2
        (2, t0 - 2 * day, 8.0),  # age 2 -> weight 1/4
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in decayed_user_totals(ev).collect()}
    assert got[1].n_events == 2 and got[1].decayed_value == 12.0
    assert got[2].n_events == 1 and got[2].decayed_value == 2.0


def test_decayed_totals_age_cap(spark):
    import datetime

    from apd_map_reduce_spark.operators.intervals import decayed_user_totals

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    old = t0 - datetime.timedelta(days=400)
    ev = spark.createDataFrame(
        [(1, t0, 0.0), (1, old, 2.0 ** 30)],
        "user_id long, ts timestamp, value double",
    )
    got = decayed_user_totals(ev).collect()[0]
    # Age clamps to 30 -> weight 2^-30 -> contribution exactly 1.0.
    assert got.decayed_value == 1.0


def test_decayed_totals_custom_cap_days(spark):
    # Regression (ADVICE r3): the contribution expression hard-coded
    # DECAY_CAP_DAYS while the clamp/denominator used cap_days, so any
    # non-default cap silently computed wrong weights.
    import datetime

    from apd_map_reduce_spark.operators.intervals import decayed_user_totals

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    day = datetime.timedelta(days=1)
    rows = [
        (1, t0, 8.0),            # age 0 -> weight 1
        (1, t0 - day, 8.0),      # age 1 -> weight 1/2
        (1, t0 - 9 * day, 4.0),  # age 9 -> clamps to cap 4 -> weight 1/16
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = decayed_user_totals(ev, cap_days=4).collect()[0]
    assert got.n_events == 3
    assert got.decayed_value == 8.0 + 4.0 + 0.25


def test_bigram_logprob_hand_docs(spark):
    import math

    from apd_map_reduce_spark.operators.cooccur import bigram_logprob

    docs = _docs(spark, [(1, "a b"), (2, "a c"), (3, "x")])
    got = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    # c(a,b)=c(a,c)=1, c(a,.)=2 -> both conditionals are 1/2.
    assert set(got) == {1, 2}  # single-token doc 3 has no bigrams
    assert got[1].n_bigrams == 1
    assert math.isclose(got[1].mean_log10_cond, math.log10(0.5), abs_tol=1e-6)
    assert math.isclose(got[2].mean_log10_cond, math.log10(0.5), abs_tol=1e-6)


def test_markov_transitions_hand_sequence(spark):
    import datetime

    from apd_map_reduce_spark.operators.intervals import markov_transitions

    t0 = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows = [
        # user 1: view -> click -> view -> click
        (1, t0, 1, "view"), (2, t0 + s, 1, "click"),
        (3, t0 + 2 * s, 1, "view"), (4, t0 + 3 * s, 1, "click"),
        # user 2: view -> view
        (5, t0, 2, "view"), (6, t0 + s, 2, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p_e6)
        for r in markov_transitions(ev).collect()
    }
    # from view: 2x ->click, 1x ->view; from click: 1x ->view.
    assert got[("view", "click")] == (2, 666666)
    assert got[("view", "view")] == (1, 333333)
    assert got[("click", "view")] == (1, 1000000)


def test_rolling_wau_hand_days(spark):
    import datetime

    from apd_map_reduce_spark.operators.intervals import rolling_distinct_users

    def ts(day):
        return datetime.datetime(2024, 1, day, 12, 0, 0)

    rows = [(1, ts(1)), (2, ts(1)), (2, ts(5)), (3, ts(9))]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r.day: r.rolling_users for r in rolling_distinct_users(ev).collect()}
    # Day 1: u1,u2. Day 5: u1(day1),u2. Day 9: u2(day5),u3 — u1 aged out.
    assert got == {"2024-01-01": 2, "2024-01-05": 2, "2024-01-09": 2}


def test_rolling_wau_window_override(spark):
    import datetime

    from apd_map_reduce_spark.operators.intervals import rolling_distinct_users

    rows = [
        (1, datetime.datetime(2024, 1, 1)),
        (2, datetime.datetime(2024, 1, 3)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r.day: r.rolling_users
        for r in rolling_distinct_users(ev, window_days=2).collect()
    }
    # 2-day window: day 3 only sees u2 (u1 active day 1 ages out).
    assert got == {"2024-01-01": 1, "2024-01-03": 1}


def test_sharded_postings_reconstruct_full_lists(spark):
    """Doc-partitioned postings are lossless: per word, concatenating
    shards in shard_id order and cumulative-summing each shard's gap
    stream must reproduce exactly the doc ids of the unsharded
    delta_postings, the positional shards concatenated in shard_id
    order must equal the unsharded positional_index posting string —
    and shard sizes must respect the block bound."""
    from apd_map_reduce_spark.operators.cooccur import (
        POSTING_SHARD_BLOCK,
        delta_postings,
        positional_index,
        sharded_delta_postings,
        sharded_positional_index,
    )
    from apd_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")

    def decode(gaps: str) -> list[int]:
        ids, acc = [], 0
        for g in gaps.split(","):
            acc += int(g)
            ids.append(acc)
        return ids

    full = {
        r.word: decode(r.gaps) for r in delta_postings(docs).collect()
    }
    sharded: dict[str, list[tuple[int, list[int]]]] = {}
    for r in sharded_delta_postings(docs).collect():
        assert r.df_part <= POSTING_SHARD_BLOCK, (r.word, r.shard_id, r.df_part)
        got = decode(r.gaps)
        # every id in this shard belongs to its doc-id range
        assert all(i // POSTING_SHARD_BLOCK == r.shard_id for i in got)
        sharded.setdefault(r.word, []).append((r.shard_id, got))
    rebuilt = {
        w: [i for _, ids in sorted(parts) for i in ids]
        for w, parts in sharded.items()
    }
    assert rebuilt == full

    # positional shards: per-(word, shard) posting covers ≤ block docs
    pos_shards: dict[str, list[tuple[int, str, int]]] = {}
    for r in sharded_positional_index(docs).collect():
        ids = {int(p.split(":")[0]) for p in r.postings.split(",")}
        assert len(ids) <= POSTING_SHARD_BLOCK
        assert all(i // POSTING_SHARD_BLOCK == r.shard_id for i in ids)
        pos_shards.setdefault(r.word, []).append(
            (r.shard_id, r.postings, r.n_postings_part)
        )
    pos_full = {
        r.word: (r.n_postings, r.postings) for r in positional_index(docs).collect()
    }
    pos_rebuilt = {
        w: (sum(n for _, _, n in parts), ",".join(p for _, p, _ in sorted(parts)))
        for w, parts in pos_shards.items()
    }
    assert pos_rebuilt == pos_full
