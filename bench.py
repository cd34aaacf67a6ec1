"""Benchmark harness (driver contract + SURVEY.md §6.3 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], warm timings (one untimed warm pass over
every query, then each query timed end-to-end including its action,
min-of-3), and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Cold-start sections (BASELINE.md's own protocol reports cold AND warm —
the reference checker's wall_s includes process startup,
tema1a/checker/checker.sh:47): alongside the warm suite, the JSON
carries a `cold` object measured on FRESH python+JVM processes
(subprocess wall time, including interpreter start, session build, and
the first-plan compile):
  cold.flagship_wall_s — one fresh process running the flagship
    corpus_inverted_index end-to-end (the checker's shape);
  cold.headline_total_wall_s — one fresh process running every
    headline query once, no warmup pass (startup amortized once, the
    realistic cold-suite shape).
Invoke `bench.py --cold-child <flagship|headline>` for the child
workload (one `RESULT` line; the parent times the process with
scripts/timing.py::fresh).
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from apd_map_reduce_spark.registry import headline_queries  # noqa: E402
from apd_map_reduce_spark.session import get_spark  # noqa: E402
from scripts.timing import RESULT, fresh, noop, stats, time_runs  # noqa: E402


def _cold_child(which: str, sf_dir: str) -> None:
    """Workload half of a cold measurement: everything from interpreter
    start to the last action is inside the parent's wall clock."""
    spark = get_spark(app_name=f"bench-cold-{which}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = headline_queries()
    if which == "flagship":
        # by name, not position — the registry order rotates per round
        qs = [q for q in qs if q.name == "corpus_inverted_index"]
        assert qs, "flagship missing from headline set"
    for q in qs:
        noop(q.fn(spark, sf_dir))
    print(RESULT + "{}")


def _measure_cold(which: str, sf_dir: str) -> float:
    _, wall = fresh(
        [sys.executable, str(Path(__file__).resolve()), "--cold-child", which],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    return wall


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if len(sys.argv) >= 3 and sys.argv[1] == "--cold-child":
        _cold_child(sys.argv[2], sf_dir)
        return

    # Cold first: measuring a fresh process AFTER this process has
    # saturated the page cache would flatter it less/more depending on
    # scan size; before the warm suite both cold runs see whatever
    # cache state the environment has — the reference checker's own
    # condition.
    cold = {
        "flagship_wall_s": _measure_cold("flagship", sf_dir),
        "headline_total_wall_s": _measure_cold("headline", sf_dir),
        "note": (
            "fresh python+JVM process per measurement; includes "
            "interpreter start, session build, first-plan compile"
        ),
    }

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm protocol (BASELINE.md, scripts/timing.py): one untimed pass
    # over every query warms JIT/codegen/broadcast paths, then each
    # query gets its timed passes. Reference numbers include C++
    # process startup; warm-vs-warm is the honest comparison (SURVEY
    # §6.3).
    builds = {q.name: partial(q.fn, spark, sf_dir) for q in headline_queries()}
    for build in builds.values():
        time_runs(spark, build, runs=0)

    # Min-of-3 per query, median reported alongside: single-pass wall
    # time on this box swings far more than ±25% (identical code
    # measured 4.3 s and 15.1 s for the same query across rounds under
    # external load; an isolated pass mid-suite spiked 2.9 s → 8.8 s) —
    # min-of-2 was not enough to make round-over-round per-query
    # comparisons meaningful. Min stays the headline statistic (it is
    # the closest observable to the plan's intrinsic cost and is
    # back-comparable to every prior round's artifact); the median
    # exposes how noisy each query's passes were, so a round-over-round
    # delta can be read against the spread instead of trusted blindly.
    PASSES = 3
    per_query = {
        name: stats(time_runs(spark, build, PASSES, warm=0))
        for name, build in builds.items()
    }
    timings = {name: s["min"] for name, s in per_query.items()}
    medians = {name: s["median"] for name, s in per_query.items()}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_warm",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "cold": cold,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
