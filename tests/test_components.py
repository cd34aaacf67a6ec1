"""Connected components vs a Python union-find reference."""

from __future__ import annotations

import pytest

from apd_map_reduce_spark.operators.components import connected_components, dup_groups
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def uf_reference(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 10)]
    df = spark.createDataFrame(pairs, "doc_a LONG, doc_b LONG")
    got = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert got == uf_reference(pairs)
    # chain 1-2-3-10-11 collapses to min label 1 despite diameter > 1
    assert got[11] == 1 and got[23] == 20


@pytest.mark.parametrize(
    "pairs, want",
    [
        ([], {}),
        ([(1, 1), (5, 5)], {1: 1, 5: 5}),
        ([(1, 2)], {1: 1, 2: 1}),
    ],
    ids=["empty", "self_pairs", "single_edge"],
)
def test_components_converge_at_max_iter_one(spark, pairs, want):
    # At most one label-changing round: the confirming round that sees
    # no change is not charged to max_iter.
    df = spark.createDataFrame(pairs, "doc_a LONG, doc_b LONG")
    got = {r.doc_id: r.component for r in connected_components(df, max_iter=1).collect()}
    assert got == want


def test_components_raise_when_labels_change_past_max_iter(spark):
    # A 16-node path: round 1 (hop + pointer jump) moves node k to k-2,
    # so round 2 still changes labels and max_iter=1 must raise.
    pairs = [(k, k + 1) for k in range(1, 16)]
    df = spark.createDataFrame(pairs, "doc_a LONG, doc_b LONG")
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(df, max_iter=1)
    got = {r.doc_id: r.component for r in connected_components(df).collect()}
    assert got == uf_reference(pairs)


def test_dup_groups_on_documents(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    groups = dup_groups(docs).collect()
    assert len(groups) > 0
    by_comp: dict[int, list[int]] = {}
    for r in groups:
        by_comp.setdefault(r.component, []).append(r.doc_id)
    for comp, members in by_comp.items():
        assert comp == min(members), "component label must be the min member"
        assert all(r.group_size == len(members) for r in groups if r.component == comp)


def test_canonical_selection_prefers_longest_copy(spark):
    from apd_map_reduce_spark.operators.components import canonical_selection

    long_text = "the quick brown fox jumps over the lazy dog and keeps going far"
    short_text = "the quick brown fox jumps over the lazy dog and keeps"
    docs = spark.createDataFrame(
        [
            (5, short_text),   # near-dup of 9, fewer tokens
            (9, long_text),    # longest copy -> canonical despite higher id
            (7, "completely unrelated content standing alone by itself here"),
        ],
        "doc_id long, text string",
    )
    got = canonical_selection(docs, threshold=0.5).collect()
    assert len(got) == 1  # singleton doc 7 forms no group
    row = got[0]
    assert row.keep_doc_id == 9 and row.group_size == 2 and row.n_tokens == 13
