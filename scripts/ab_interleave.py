"""Generalized interleaved same-box A/B (r9 verdict directive #5).

Settles any suspected bench regression in ONE command on a box with
±35% one-sided load noise (NOTES_r6/r9): never compare a fresh run
against a prior round's artifact — interleave OLD-ref and CURRENT-tree
passes round-robin so both variants sample the same load profile, and
score by min (noise only ever adds time).

    python scripts/ab_interleave.py --ref e439249 \
        --queries corpus_clean_snapshot,dedup_minhash_lsh \
        --passes 5 --out ab.json

Rather than shadow-importing one old module into the live session
(which would have to assert every shared timed-path symbol is
drift-free, or the timing is a chimera), this tool checks the old ref
out into a throwaway `git worktree` and runs each variant in its own
fresh process with sys.path pinned to its tree — the old variant is the
WHOLE old tree, so any ref works with zero per-symbol audits. The
price is one JVM start per (variant, pass); all queries in the list
share that session, so the cost amortizes across the query list.

Both variants run the SAME current-tree child, `scripts/timing.py`
(one untimed warm run per query, then --timed-runs timed runs with the
cache cleared between, noop sink), so old and new are timed by the
same code even when the old ref predates it. Parent aggregates
min/median per variant and the old/new min ratio per query.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TIMING = REPO / "scripts" / "timing.py"
sys.path.insert(0, str(REPO))

from scripts.timing import fresh, stats  # noqa: E402


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), *args],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


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
        wt = Path(tempfile.mkdtemp(prefix="ab_interleave_wt_"))
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
                env = {**os.environ, **(env_old if label == "old" else {})}
                got, _ = fresh(
                    [sys.executable, str(TIMING), str(tree), args.sf_dir,
                     str(args.timed_runs), ",".join(names)],
                    env=env,
                )
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
