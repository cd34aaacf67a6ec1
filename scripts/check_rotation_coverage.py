"""Re-derive the cumulative driver-window coverage and verify the
current registry window closes it.

The external correctness gate hashes the first 50 registry entries each
round and records them in CORRECTNESS_r{NN}.json — read here from the
root, where a driver writes them, and from records/, where past rounds
live. The registry rotates that window per round (registry.ROUND) so
the gate is cumulative, and hoists the current round's new queries
(registry._NEW_IN_ROUND) into the window. This script recomputes, from the
committed artifacts alone, (a) which queries have never appeared in any
driver window and (b) whether the CURRENT window covers all of them —
so a query left outside every window is caught, not trusted away.

Usage: python scripts/check_rotation_coverage.py
Exit 0 iff every never-hashed query is inside the current 50-entry
window (or none remain).
"""

from __future__ import annotations

import glob
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from apd_map_reduce_spark import registry  # noqa: E402


def driver_hashed_names() -> set[str]:
    """Union of query names across all committed driver windows."""
    seen: set[str] = set()
    for path in sorted(
        p for d in (REPO, REPO / "records") for p in glob.glob(str(d / "CORRECTNESS_r*.json"))
    ):
        data = json.loads(Path(path).read_text())
        if isinstance(data, dict):
            seen.update(k for k in data if k not in ("summary", "meta", "sf"))
    return seen


def main() -> int:
    seen = driver_hashed_names()
    all_names = [q.name for q in registry.ALL_QUERIES]
    never = [n for n in all_names if n not in seen]
    window = set(all_names[:50])
    missing = [n for n in never if n not in window]

    print(f"registry: {len(all_names)} queries; ROUND={registry.ROUND}")
    print(f"driver-hashed cumulatively: {len(seen & set(all_names))}")
    print(f"never driver-hashed: {len(never)}: {never}")

    if missing:
        print(f"FAIL: {len(missing)} never-hashed queries OUTSIDE the window: {missing}")
        return 1
    print("OK: current window covers every never-driver-hashed query")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
