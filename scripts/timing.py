"""The one timing protocol every measurement harness shares.

Protocol of record (SURVEY.md §6.3, BASELINE.md): `warm` untimed runs,
then `runs` timed runs on a monotonic clock. Every run executes the
query's complete physical plan into a sink — Spark's noop sink unless
the harness times a real one (the reference checker's letter files) —
and the SQL
relation cache is cleared after each run so no run reads an earlier
run's caches. Scoring is min (box noise only ever adds time) with the
median alongside to expose spread.

This module imports only the stdlib and pyspark, never
apd_map_reduce_spark, so a harness can load it next to any tree —
including an old ref that predates this file (scripts/ab_interleave.py).

As a child process it times registry queries of an arbitrary tree:

    python scripts/timing.py TREE SF_DIR RUNS q1,q2,...

pins sys.path to TREE, times each named query with `time_runs` (one
warm run, RUNS timed) in one session built by TREE's own `get_spark`,
and prints one line `RESULT {name: [samples] | null}` — null for a
name that is not in TREE's registry. `fresh` runs such a child and
parses that line.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import time
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

RESULT = "RESULT "


def noop(df: DataFrame) -> None:
    """Execute df's complete physical plan and discard the rows
    executor-side. Not count(): count() lets Catalyst drop final sorts
    (EliminateSorts) and every projection, under-measuring queries whose
    cost includes the ORDER BY / projection stage."""
    df.write.format("noop").mode("overwrite").save()


def time_runs(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    runs: int,
    warm: int = 1,
    sink: Callable[[DataFrame], None] = noop,
) -> list[float]:
    """`warm` untimed then `runs` timed runs of `sink(build())`; returns
    the timed wall seconds (query construction included). The cache is
    cleared after every run, warm ones too."""
    samples: list[float] = []
    for i in range(warm + runs):
        t0 = time.monotonic()
        sink(build())
        dt = time.monotonic() - t0
        spark.catalog.clearCache()
        if i >= warm:
            samples.append(round(dt, 3))
    return samples


def stats(samples: list[float]) -> dict:
    return {
        "samples": samples,
        "min": min(samples),
        "median": sorted(samples)[len(samples) // 2],
    }


def fresh(argv: list[str], env: dict[str, str] | None = None) -> tuple[dict, float]:
    """Run `argv` as a fresh process in a throwaway cwd (Spark's
    cwd-relative droppings — spark-warehouse, derby.log — never land in
    a working tree) and return (its `RESULT {json}` payload, process
    wall seconds). Raises with the child's output tails if the line is
    missing. `env` replaces the environment; None inherits it."""
    scratch = tempfile.mkdtemp(prefix="timing_")
    try:
        t0 = time.monotonic()
        proc = subprocess.run(argv, capture_output=True, text=True, cwd=scratch, env=env)
        wall = round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for line in proc.stdout.splitlines():
        if line.startswith(RESULT):
            return json.loads(line[len(RESULT):]), wall
    raise RuntimeError(
        f"child {argv[:3]} produced no {RESULT.strip()} line (exit {proc.returncode})\n"
        f"--- stdout ---\n{proc.stdout[-2000:]}\n"
        f"--- stderr ---\n{proc.stderr[-2000:]}"
    )


def _child(tree: str, sf_dir: str, runs: int, names: list[str]) -> None:
    sys.path[0] = tree  # the script's own dir carries no meaning here
    from apd_map_reduce_spark.registry import QUERY_INDEX
    from apd_map_reduce_spark.session import get_spark

    spark = get_spark(app_name="timing-child")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, list[float] | None] = {}
    for name in names:
        q = QUERY_INDEX.get(name)
        out[name] = None if q is None else time_runs(spark, partial(q.fn, spark, sf_dir), runs)
    print(RESULT + json.dumps(out), flush=True)


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4].split(","))
