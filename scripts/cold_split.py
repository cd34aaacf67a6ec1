"""r10 verdict directive #4: split the cold-flagship number.

BENCH cold flagship = one fresh python process running the flagship
query end-to-end. r10 measured 20.8 s vs r9's 14.0 s (+48%) and could
not say which phase moved — box noise was plausible but unproven for
COLD (the warm A/B harness doesn't cover process startup). This
script runs N fresh child processes, each stamping monotonic times at
the four phase boundaries, and reports per-phase min/median — min
scoring because box noise is one-sided (box-noise-protocol memory):

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
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts.timing import fresh  # noqa: E402

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
    out_path = Path(args[0]) if args else REPO / "COLD_SPLIT_r11.json"

    runs = []
    for _ in range(reps):
        rec, total = fresh([sys.executable, "-c", CHILD_SRC, str(REPO)])
        rec["total"] = total
        rec["interp_boot"] = round(
            total - rec["imports"] - rec["session"] - rec["first_run"], 3
        )
        runs.append(rec)
        print(rec, flush=True)

    def stat(key):
        vals = sorted(r[key] for r in runs)
        return {"min": vals[0], "med": vals[len(vals) // 2]}

    payload = {
        "directive": "r10 verdict #4: cold flagship phase split",
        "protocol": (
            f"{reps} fresh child processes, monotonic stamps at phase "
            "boundaries; min + median per phase (one-sided box noise)"
        ),
        "phases": {k: stat(k) for k in
                   ("imports", "session", "first_run", "total", "interp_boot")},
        "runs": runs,
    }
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
