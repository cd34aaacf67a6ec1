"""Split a cold flagship run into its phases.

The bench's cold flagship number is one fresh python process running
the flagship query end-to-end; on its own it cannot say which phase
moved. This script runs N fresh child processes (scripts/timing.py's
`fresh`), each stamping monotonic times at the phase boundaries, and
reports per-phase min/median (`timing.stats`) — min scoring because
box noise is one-sided:

  imports   — `import apd_map_reduce_spark.registry` + `__spark_entry__`
              (the full ~25-operator-module surface the registry pulls
              in, plus pandas/pyarrow/pyspark underneath)
  session   — get_spark(): JVM launch + SparkContext + session state
  first_run — entry(spark) plan + execute + collect (first-plan
              analysis, codegen, scan)
  total     — process fork → child exit (includes interpreter boot,
              which is total - imports - session - first_run)

If `imports` is material (>= 1 s), the fix is lazy query-family
loading behind registry.queries(); if `session`/`first_run` dominate,
the number is a JVM/runtime floor no repo change removes.

Usage: python scripts/cold_split.py [out_json] [--reps 5]
Prints the per-phase stats; out_json, if given, also gets every run.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts.timing import fresh, stats  # noqa: E402

CHILD_SRC = r"""
import json, sys, time
t0 = time.monotonic()
sys.path.insert(0, sys.argv[1])
import apd_map_reduce_spark.registry  # noqa: F401
import __spark_entry__ as e
t1 = time.monotonic()
from apd_map_reduce_spark.session import get_spark
spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
t2 = time.monotonic()
rows = e.entry(spark).collect()
t3 = time.monotonic()
print("RESULT " + json.dumps({
    "imports": round(t1 - t0, 3),
    "session": round(t2 - t1, 3),
    "first_run": round(t3 - t2, 3),
    "rows": len(rows),
}))
"""


def main() -> int:
    args = list(sys.argv[1:])
    reps = 5
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    out_path = args[0] if args else None

    runs = []
    for _ in range(reps):
        rec, total = fresh([sys.executable, "-c", CHILD_SRC, str(REPO)])
        rec["total"] = total
        rec["interp_boot"] = round(
            total - rec["imports"] - rec["session"] - rec["first_run"], 3
        )
        runs.append(rec)
        print(rec, flush=True)

    phases = ("imports", "session", "first_run", "total", "interp_boot")
    payload = {"phases": {k: stats([r[k] for r in runs]) for k in phases}, "runs": runs}
    print(json.dumps(payload["phases"]))
    if out_path:
        Path(out_path).write_text(json.dumps(payload, indent=1), encoding="utf-8")
        print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
