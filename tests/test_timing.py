"""The shared timing protocol (scripts/timing.py): run counts, cache
release, the fresh-process RESULT contract, and the registry child."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from scripts.timing import fresh, stats, time_runs

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def test_time_runs_counts_and_releases_cache(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).selectExpr("id * 2 AS x").cache()

    samples = time_runs(spark, build, runs=3, warm=2)
    assert len(calls) == 5
    assert len(samples) == 3 and all(s > 0 for s in samples)
    sunk = []
    assert len(time_runs(spark, build, runs=1, sink=sunk.append)) == 1
    assert len(sunk) == 2  # warm runs go to the sink too
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stats_min_and_median():
    assert stats([3.0, 1.0, 2.0]) == {"samples": [3.0, 1.0, 2.0], "min": 1.0, "median": 2.0}


def test_fresh_parses_result_line():
    payload, wall = fresh(
        [sys.executable, "-c", "print('noise'); print('RESULT {\"a\": [1, 2]}')"]
    )
    assert payload == {"a": [1, 2]}
    assert wall > 0


def test_fresh_raises_with_stderr_tail():
    src = "import sys; print('no result here'); sys.stderr.write('boom-tail')"
    with pytest.raises(RuntimeError, match="boom-tail"):
        fresh([sys.executable, "-c", src])


def test_timing_child_times_registry_queries():
    payload, _ = fresh(
        [
            sys.executable,
            str(REPO / "scripts" / "timing.py"),
            str(REPO),
            SF_SMOKE,
            "1",
            "corpus_inverted_index,not_a_query",
        ]
    )
    assert payload["not_a_query"] is None
    samples = payload["corpus_inverted_index"]
    assert len(samples) == 1 and samples[0] > 0
