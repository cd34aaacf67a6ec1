"""Generalized interleaved same-box A/B (r9 verdict directive #5).

Settles any suspected bench regression in ONE command on a box with
±35% one-sided load noise (NOTES_r6/r9): never compare a fresh run
against a prior round's artifact — interleave OLD-ref and CURRENT-tree
passes round-robin so both variants sample the same load profile, and
score by min (noise only ever adds time).

    python scripts/ab_interleave.py --ref e439249 \
        --queries corpus_clean_snapshot,dedup_minhash_lsh \
        --passes 5 --out AB_r10.json

Rather than shadow-importing one old module into the live session
(which would have to assert every shared timed-path symbol is
drift-free, or the timing is a chimera), this tool checks the old ref
out into a throwaway `git worktree` and runs each variant in its own
subprocess with sys.path pinned to its tree — the old variant is the
WHOLE old tree, so any ref works with zero per-symbol audits. The
price is one JVM start per (variant, pass); all queries in the list
share that session, so the cost amortizes across the query list.

Per-child protocol (matches AB_WARM_r7 / bench.py): one untimed warm
run per query, then --timed-runs timed runs with the cache cleared
between, noop sink. Parent aggregates min/median per variant and the
old/new min ratio per query.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Runs inside EACH variant's subprocess with argv = [tree, sf_dir,
# timed_runs, q1,q2,...]; imports resolve against `tree` only. Kept
# dependency-light (registry + session only) so it loads on any ref
# back to the registry's introduction.
CHILD_SRC = r"""
import json, sys, time
tree, sf_dir, timed_runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4].split(",")
sys.path.insert(0, tree)
from apd_map_reduce_spark.registry import QUERY_INDEX
from apd_map_reduce_spark.session import get_spark
spark = get_spark(app_name="ab-interleave-child")
spark.sparkContext.setLogLevel("ERROR")
out = {}
for name in names:
    q = QUERY_INDEX.get(name)
    if q is None:
        out[name] = None  # not in this ref's registry
        continue
    def run_once():
        t0 = time.monotonic()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        spark.catalog.clearCache()
        return round(dt, 3)
    run_once()  # warm (untimed)
    out[name] = [run_once() for _ in range(timed_runs)]
print("ABCHILD " + json.dumps(out))
"""


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), *args],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def _child(
    tree: Path,
    sf_dir: str,
    timed_runs: int,
    names: list[str],
    env_extra: dict[str, str] | None = None,
) -> dict:
    env = dict(os.environ)
    env.update(env_extra or {})
    # Per-variant scratch cwd: Spark's cwd-relative droppings
    # (spark-warehouse, derby.log, metastore_db) land in /tmp, not in
    # the live working tree (ADVICE r10). sys.path is pinned to `tree`
    # inside CHILD_SRC, so cwd carries no import meaning.
    scratch = Path(tempfile.mkdtemp(prefix=f"ab_{tree.name}_"))
    try:
        proc = subprocess.run(
            [sys.executable, "-c", CHILD_SRC, str(tree), sf_dir,
             str(timed_runs), ",".join(names)],
            capture_output=True, text=True, cwd=str(scratch), env=env,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for line in proc.stdout.splitlines():
        if line.startswith("ABCHILD "):
            return json.loads(line[len("ABCHILD "):])
    raise RuntimeError(
        f"child in {tree} produced no result line\n"
        f"--- stdout ---\n{proc.stdout[-2000:]}\n"
        f"--- stderr ---\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", default=None, help="git ref of the OLD variant")
    ap.add_argument(
        "--env-old",
        action="append",
        default=[],
        metavar="KEY=VAL",
        help="SAME-TREE config A/B: the 'old' variant is the CURRENT "
        "tree run with these env overrides (repeatable) instead of a "
        "git ref — the sharpest causal test for an env-gated config "
        "(e.g. SPARK_GRAFT_AQE_WIDE_START=0). Mutually exclusive "
        "with --ref.",
    )
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry query names")
    ap.add_argument("--passes", type=int, default=5,
                    help="interleaved passes per variant (default 5)")
    ap.add_argument("--timed-runs", type=int, default=1,
                    help="timed runs per query per pass, after 1 warm")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="write JSON here too")
    args = ap.parse_args()
    names = args.queries.split(",")
    if bool(args.ref) == bool(args.env_old):
        ap.error("exactly one of --ref / --env-old is required")
    env_old = dict(kv.split("=", 1) for kv in args.env_old)

    head_sha = _git("rev-parse", "--short", "HEAD")
    dirty = bool(_git("status", "--porcelain",
                      "--", "apd_map_reduce_spark", "__spark_entry__.py"))

    wt = None
    if args.ref:
        old_sha = _git("rev-parse", "--short", args.ref)
        old_label = f"{args.ref} ({old_sha})"
        wt = Path(f"/tmp/ab_interleave_wt_{os.getpid()}")
        _git("worktree", "add", "--detach", str(wt), args.ref)
    else:
        old_sha = head_sha
        old_label = f"working tree @ {head_sha} with env {env_old}"
    try:
        samples: dict[str, dict[str, list[float]]] = {
            n: {"old": [], "new": []} for n in names
        }
        for p in range(args.passes):
            for label, tree in (("old", wt or REPO), ("new", REPO)):
                got = _child(tree, args.sf_dir, args.timed_runs, names,
                             env_extra=env_old if label == "old" else None)
                for n in names:
                    if got.get(n) is None:
                        raise RuntimeError(
                            f"query {n!r} missing from {label} registry "
                            f"({old_sha if label == 'old' else head_sha})"
                        )
                    samples[n][label].extend(got[n])
                print(f"pass {p + 1}/{args.passes} {label}: "
                      + " ".join(f"{n}={got[n]}" for n in names),
                      file=sys.stderr)

        def stats(v: list[float]) -> dict:
            return {"samples": v, "min": min(v),
                    "median": sorted(v)[len(v) // 2]}

        out = {
            "protocol": {
                "interleaved": "round-robin old/new, fresh JVM per pass "
                               "(worktree-isolated trees)",
                "per_child": f"1 warm + {args.timed_runs} timed per query, "
                             "cache cleared between, noop sink, min scoring",
                "passes": args.passes,
                "sf_dir": args.sf_dir,
                "old_ref": old_label,
                "new": f"working tree @ {head_sha}"
                       + (" (dirty)" if dirty else ""),
            },
            "queries": {
                n: {
                    "old": stats(s["old"]),
                    "new": stats(s["new"]),
                    "new_over_old_min": round(
                        min(s["new"]) / min(s["old"]), 3),
                }
                for n, s in samples.items()
            },
        }
        print(json.dumps(out))
        if args.out:
            Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
            print(f"wrote {args.out}", file=sys.stderr)
    finally:
        if wt is not None:
            _git("worktree", "remove", "--force", str(wt))
            shutil.rmtree(wt, ignore_errors=True)


if __name__ == "__main__":
    main()
