"""Dump `.explain("formatted")` for every headline query.

Usage: python scripts/dump_plans.py OUTDIR SUFFIX [REPO_ROOT] [--queries a,b]

--queries restricts/extends the dump to the named registry queries
instead of the headline set (r13: the iterative operators under
optimization are not headline queries; their final-plan dumps are the
O(1)-lineage evidence). Note a driver-loop query EXECUTES its loop
during construction; the dumped plan is the returned DataFrame's —
checkpointed roots included — which is exactly the lineage claim.

Writes OUTDIR/<query>_<SUFFIX>.txt for each bench headline query —
plan-shape evidence (records/plans/r12/ holds past rounds' dumps): a
reader who cannot run Spark checks plan-shape claims there (Exchange
count, join strategy, PushedFilters/ReadSchema, no BatchEvalPython).

REPO_ROOT (optional) lets the same script run against a checked-out
historical tree (git worktree) to produce the _before files; the
registry/session are imported from there.

Caches: builders mark shared intermediates with .cache() (see
session.release_caches docstring); `clearCache()` runs between queries
so each explain shows the query's own plan, with InMemoryRelation
nodes exactly where the production query has them.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path


def main() -> None:
    argv = list(sys.argv[1:])
    names: list[str] | None = None
    if "--queries" in argv:
        i = argv.index("--queries")
        names = argv[i + 1].split(",")
        del argv[i : i + 2]
    outdir = Path(argv[0])
    suffix = argv[1]
    root = argv[2] if len(argv) > 2 else str(Path(__file__).resolve().parents[1])
    sys.path.insert(0, root)

    from apd_map_reduce_spark.registry import QUERY_INDEX, headline_queries  # noqa: E402
    from apd_map_reduce_spark.session import get_spark  # noqa: E402

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"dump-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = [QUERY_INDEX[n] for n in names] if names else headline_queries()
    for q in qs:
        df = q.fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (outdir / f"{q.name}_{suffix}.txt").write_text(buf.getvalue())
        spark.catalog.clearCache()
        print(f"wrote {q.name}_{suffix}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
