"""The cumulative gate-window coverage contract.

These tests re-derive the never-hashed set from the committed
CORRECTNESS_r* artifacts so a stale ``registry._NEW_IN_ROUND`` fails CI
rather than silently shipping a window that misses a query.
"""

from __future__ import annotations

from apd_map_reduce_spark import registry
from scripts.check_rotation_coverage import driver_hashed_names


def test_hoist_list_matches_artifacts():
    seen = driver_hashed_names()
    all_names = [q.name for q in registry.ALL_QUERIES]
    derived_never = {n for n in all_names if n not in seen}
    # Cumulative coverage is closed (CORRECTNESS_r09 included): the only
    # queries allowed to lack a gate hash are the ones ADDED in the
    # current round, which the registry hoists into the gate window
    # (checked by the test below) so they are hashed the round they land.
    assert derived_never <= set(registry._NEW_IN_ROUND), (
        f"never-hashed queries that are not new this round: "
        f"{derived_never - set(registry._NEW_IN_ROUND)}"
    )


def test_window_covers_never_hashed():
    seen = driver_hashed_names()
    all_names = [q.name for q in registry.ALL_QUERIES]
    never = [n for n in all_names if n not in seen]
    window = set(all_names[:50])
    missing = [n for n in never if n not in window]
    assert not missing, f"never-driver-hashed queries outside the window: {missing}"


def test_flagship_pinned_at_entry_zero():
    assert registry.ALL_QUERIES[0].name == "corpus_inverted_index"
