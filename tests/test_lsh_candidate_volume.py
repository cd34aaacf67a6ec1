"""Candidate-volume gate for the LSH screen (r11 verdict stretch #8).

The five plan-hazard classes catch STRUCTURE (cartesians, unspread
CPU, unpushed filters); none of them sees the banded join's
~N²·P(s_bg) background-collision tail — the one measured superlinear
term at sf100 (92.4M candidates at b=24,r=3, LSH_SF100_PLAN_r11.json).
These tests make the tail an asserted NUMBER on a fixture built to
exhibit it, so an operating-point regression fails pytest, not a
scale round:

  * the provable volume invariant (stop-shingle guard ⇒
    band_pair_rows ≤ n_docs·bands·(max_df−1)/2) holds on both the
    driver fixture and the adversarial one;
  * the scale point (LSH_SCALE_BANDS×LSH_SCALE_ROWS, r=4) cuts the
    background candidate volume vs the default (b24r3) on a corpus
    whose pairwise similarity sits BELOW the near-dup threshold —
    the property the point was shipped for;
  * monotone detector-positivity: a WORSE point (r=2) measurably
    inflates volume on the same fixture — i.e. the gate metric is
    demonstrably sensitive in both directions, not vacuously green;
  * the scale point still meets the analytic S-curve recall contract
    at the near-dup threshold (≥ 0.9), so nobody can "win" this gate
    by gutting recall.

The background fixture: 200 docs = a 14-token shared block (one of 10
variants, doc d uses variant d%10) followed by 26 doc-unique tokens —
docs sharing a variant have 3-shingle Jaccard 0.1875 (measured,
asserted), cross-variant pairs 0. Zero true near-dups at the 0.5
threshold (asserted), so every candidate either point emits is tail,
not signal. Measured volumes (deterministic — fixed hash family, no
RNG): default b24r3 → 268 candidates, scale b54r4 → 131, r=2 → 619.
All words alphabetic-only: the normalizer strips [^A-Za-z], so a
digit suffix would collapse a word family to one token.
"""

from __future__ import annotations

import pytest

from apd_map_reduce_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    LSH_SCALE_BANDS,
    LSH_SCALE_ROWS,
    MAX_SHINGLE_DF,
    lsh_candidate_pairs,
    lsh_candidate_volume,
    lsh_collision_multiplicity,
    lsh_collision_probability,
    ngram_jaccard_pairs,
)


def _letters(n: int) -> str:
    s = ""
    n += 1
    while n:
        s += chr(ord("a") + n % 26)
        n //= 26
    return s


@pytest.fixture(scope="module")
def background_docs(spark):
    """200 docs: shared 14-token block (10 variants) + 26 unique."""
    rows = []
    for d in range(200):
        block = [f"base{_letters(d % 10)}{_letters(j)}" for j in range(14)]
        uniq = [f"u{_letters(d)}q{_letters(i)}" for i in range(26)]
        rows.append((d, " ".join(block + uniq)))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _volume(docs, bands, rows):
    r = lsh_candidate_volume(docs, bands=bands, rows=rows).collect()[0]
    return int(r.band_pair_rows), int(r.n_candidates)


def test_no_true_neardups_in_background_fixture(background_docs):
    assert ngram_jaccard_pairs(background_docs).count() == 0


def test_multiplicity_and_candidates_share_one_band_join(background_docs):
    """Both observables come from the same band self-join: the
    multiplicity relation keys exactly the distinct candidate pairs,
    each pair colliding in at least one band."""
    mult = lsh_collision_multiplicity(background_docs).collect()
    cands = lsh_candidate_pairs(background_docs).collect()
    assert mult, "fixture produced no band collisions"
    assert {(r.doc_a, r.doc_b) for r in mult} == {(r.doc_a, r.doc_b) for r in cands}
    assert len(mult) == len(cands)
    assert all(r.n_bands >= 1 for r in mult)


def test_volume_invariant_bound(background_docs):
    n_docs = background_docs.count()
    for bands, rows in [(LSH_BANDS, LSH_ROWS), (LSH_SCALE_BANDS, LSH_SCALE_ROWS)]:
        bpr, _ = _volume(background_docs, bands, rows)
        assert bpr <= n_docs * bands * (MAX_SHINGLE_DF - 1) / 2


def test_scale_point_cuts_background_volume(background_docs):
    """The shipped property: r=4 at contract recall emits materially
    fewer background candidates than the default on a corpus with no
    true near-dups. 0.8 is a loose ceiling (measured ratio is far
    lower); it exists to catch a regression that re-inflates the
    tail, not to pin an exact number."""
    _, cand_default = _volume(background_docs, LSH_BANDS, LSH_ROWS)
    _, cand_scaled = _volume(background_docs, LSH_SCALE_BANDS, LSH_SCALE_ROWS)
    assert cand_default > 0, "fixture produced no background tail to measure"
    assert cand_scaled < 0.8 * cand_default


def test_gate_is_detector_positive(background_docs):
    """A WORSE operating point (r=2 at comparable analytic recall)
    must measurably inflate volume on the same fixture — proves the
    metric is sensitive, so the green above is not vacuous."""
    _, cand_default = _volume(background_docs, LSH_BANDS, LSH_ROWS)
    _, cand_r2 = _volume(background_docs, 12, 2)  # P(0.5)=0.968, wide-S tail
    assert cand_r2 > cand_default


def test_scale_point_keeps_recall_contract():
    assert lsh_collision_probability(0.5, LSH_SCALE_BANDS, LSH_SCALE_ROWS) >= 0.9
    assert LSH_SCALE_ROWS > LSH_ROWS  # sharper S-curve, by construction
