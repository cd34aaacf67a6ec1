"""Scale-step measurement: how does each scale-sensitive operator's
wall-clock grow across 10x data steps (sf0.001 → sf0.01 → sf0.1)?

The question the 100 TB grade actually asks: is candidate generation
banded (near-linear growth) or quadratic? Growth factors are reported
per 10x step alongside output row counts (pair counts legitimately
grow faster than linear when the data's duplicate density grows —
interpret time growth against result growth, not in isolation).
Protocol of record: warm pass, then min-of-3 noop-sink runs with
caches cleared between passes (scripts/timing.py::time_runs, as
bench.py).

A FOURTH decade (sf1: 10x documents / 4x embeddings, mirroring the
previous step's per-table ratios) is generated on demand by
scripts/gen_scale_tables.py into <repo>/.scale/sf1 — /root/testdata is
read-only — and included automatically, so the banding/stop-shingle
guards are observed across TWO consecutive decades. Pass --no-sf1 to
restrict to the driver-shipped dirs. Pass --sf10 to add a FIFTH decade
(<repo>/.scale/sf10: 500k docs / 32k embeddings, generated on demand
with --doc-mult 100 --emb-mult 16) — run it with --only on the
scale-path subset; the exact enumerators' pair universe at sf10 is the
thing their docstrings tell you not to run unsampled.

Usage: python scripts/scale_step.py [out_json] [--no-sf1] [--sf10] [--only q1,q2]
(--only restricts to a comma-separated subset — partial sweeps for new
operators; merge into the committed artifact with the full run.)
The payload is printed as one `RESULT {json}` line — the line that
--isolate parses from its fresh per-query children.
"""

from __future__ import annotations

import json
import subprocess
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from apd_map_reduce_spark.registry import QUERY_INDEX  # noqa: E402
from apd_map_reduce_spark.session import get_spark  # noqa: E402
from scripts.timing import RESULT, fresh, time_runs  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
SF1_DIR = Path(__file__).resolve().parent.parent / ".scale" / "sf1"
SF10_DIR = Path(__file__).resolve().parent.parent / ".scale" / "sf10"
QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_neardup",
    "corpus_clean_snapshot",
    "ann_cosine_topk",
    "dedup_semantic_clusters",
    "dedup_containment",
    "multimodal_phash_neardup",
    "text_bm25_search",
    "text_boilerplate_spans",
    "corpus_inverted_index",
    # session additions: the hybrid fusion is depth-bounded (expect
    # scan-dominated growth), and the chunker pair contrasts the JVM
    # expression against the Python UDTF path decade-by-decade
    "text_hybrid_rrf_search",
    "doc_chunk_sequences",
    "doc_chunk_sequences_udtf",
    # third-session additions: ExactSubstr islands (same shuffle
    # inventory as boilerplate + a per-doc window), PQ-ADC search
    # (expect linear — corpus side is the code scan), and BPE merge
    # pairs (vocabulary-sized after the token-frequency shuffle)
    "dedup_exact_substr_spans",
    "ann_pq_adc_topk",
    "text_bpe_merge_pairs",
    # fourth-session addition: idf-weighted cosine — same shuffle
    # inventory as dedup_ngram_jaccard plus the sh-keyed weight join
    # (expect the two to track decade-for-decade)
    "dedup_weighted_cosine",
    # fifth-session addition: the composed LSH-screen + exact-verify
    # path — the scale answer to the exact enumerators' pair-universe
    # growth (expect it to track dedup_minhash_lsh, NOT
    # dedup_ngram_jaccard, across the pair-dense decades)
    "dedup_lsh_screened_jaccard",
    # sixth-session additions: the dedup health checks. The estimator
    # audit rides the LSH pipeline (expect LSH-like growth); the
    # recall audit's truth side enumerates the exact pair universe BY
    # DESIGN (sample-scoped at real scale, per its docstring) — its
    # decade rows document that cost honestly, they don't claim a
    # scale path.
    "dedup_minhash_estimate",
    "dedup_lsh_recall_audit",
    # seventh-session additions: the doc-range-sharded posting lists
    # (expect inverted-index-like growth with bounded per-key rows —
    # the runnable answer to the hot-word posting row) and the
    # hash-sampled recall audit (its truth side enumerates 1/16 of
    # the pair universe — expect it to shed most of the full audit's
    # pair-density growth).
    "text_positional_index_sharded",
    "text_postings_delta_sharded",
    "dedup_lsh_recall_audit_sampled",
]

# The subset whose docstrings claim a 100 TB scale path — the fifth
# decade (--sf10) is measured for THESE; the exact enumerators' pair
# universe at sf10 is the thing their docstrings tell you not to run
# unsampled.
# r7 verdict #3: the relational/events families' 100 TB claims rested
# on plan shapes + sf0.1 timings only. --relational measures the
# headline TPC-H-shape set, the two events workhorses, and every query
# the r8 keyed-window class fix rewrote, across all four decades
# (.scale/sf1 now carries key-shifted 10x fact tables: 6M lineitem /
# 1.5M orders / 1M events / 150k customer, dims fixed).
RELATIONAL_PATH = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_supplier_volume",
    "q10_returned_items",
    "q18_large_orders",
    "events_sessionize",
    "events_hourly",
    # the r8 keyed-window rewrites — growth here is the evidence the
    # class fix holds across decades, not just in plan shape
    "q2_min_cost_parts",
    "customers_above_nation_avg",
    "window_ntile_customers",
    "window_percent_rank",
    "window_top_customers_per_nation",
    "stratified_sample_exact",
    "pack_token_shards",
    "training_shuffle_order",
]

SCALE_PATH = [
    "dedup_minhash_lsh",
    "dedup_lsh_screened_jaccard",
    "dedup_incremental_neardup",
    "corpus_clean_snapshot",
    "corpus_inverted_index",
    "ann_cosine_topk",
    "ann_pq_adc_topk",
    "text_positional_index_sharded",
    "text_postings_delta_sharded",
    "dedup_lsh_recall_audit_sampled",
    "dedup_minhash_estimate",
]
PASSES = 3


def _sweep(names: list[str], sf_dirs: list[str]) -> dict[str, dict]:
    spark = get_spark(app_name="scale-step")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    for name in names:
        q = QUERY_INDEX[name]
        per_sf: dict[str, dict] = {}
        for sf_dir in sf_dirs:
            sf = sf_dir.rsplit("sf", 1)[-1]
            rows = q.fn(spark, sf_dir).count()
            best = min(time_runs(spark, partial(q.fn, spark, sf_dir), PASSES))
            per_sf[sf] = {"sec": best, "rows": rows}
        sfs = [d.rsplit("sf", 1)[-1] for d in sf_dirs]
        growth = [
            round(per_sf[sfs[i + 1]]["sec"] / per_sf[sfs[i]]["sec"], 2)
            for i in range(len(sfs) - 1)
        ]
        results[name] = {"per_sf": per_sf, "time_growth_per_10x": growth}
        print(f"{name}: {per_sf} growth {growth}")
    return results


def main() -> None:
    args = [a for a in sys.argv[1:]]
    with_sf1 = "--no-sf1" not in args
    with_sf10 = "--sf10" in args
    scale_path = "--scale-path" in args
    relational = "--relational" in args
    isolate = "--isolate" in args
    args = [
        a
        for a in args
        if a not in ("--no-sf1", "--sf10", "--scale-path", "--relational", "--isolate")
    ]
    only: list[str] | None = SCALE_PATH if scale_path else None
    if relational:
        only = RELATIONAL_PATH
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            print("--only requires a comma-separated query list", file=sys.stderr)
            return
        only = args[i + 1].split(",")
        unknown = [q for q in only if q not in QUERY_INDEX]
        if unknown:
            print(f"unknown queries: {unknown}; valid: {sorted(QUERY_INDEX)}", file=sys.stderr)
            return
        del args[i : i + 2]
    out_path = args[0] if args else None

    sf_dirs = list(SF_DIRS)
    if with_sf1:
        if not (SF1_DIR / "documents.parquet").exists() or not (
            SF1_DIR / "orders.parquet"
        ).exists():
            subprocess.run(
                [sys.executable, str(Path(__file__).parent / "gen_scale_tables.py")],
                check=True,
            )
        sf_dirs.append(str(SF1_DIR))
    if with_sf10:
        if not (SF10_DIR / "documents.parquet").exists():
            subprocess.run(
                [
                    sys.executable,
                    str(Path(__file__).parent / "gen_scale_tables.py"),
                    str(SF10_DIR),
                    "/root/testdata/sf0.1",
                    "--doc-mult", "100",
                    "--emb-mult", "16",
                ],
                check=True,
            )
        sf_dirs.append(str(SF10_DIR))

    names = list(only) if only is not None else list(QUERIES)

    if isolate:
        # Fresh JVM PER QUERY (timing protocol unchanged: warm +
        # min-of-3 within each query's own session). Motivation (r9):
        # an 18-query × 5-decade sweep in ONE session measured the
        # later sf10 text queries ~7x slower than the same queries run
        # in isolation (text_lang_id 18.4 s vs 2.7 s, identical code
        # and protocol) — deep-session JVM state / sustained box load
        # is indistinguishable after the fact, so the artifact-of-
        # record sweep removes the confound structurally.
        flags = (["--no-sf1"] if not with_sf1 else []) + (["--sf10"] if with_sf10 else [])
        results = {}
        for name in names:
            child, _ = fresh(
                [sys.executable, str(Path(__file__).resolve()), "--only", name, *flags]
            )
            results.update(child["queries"])
            print(f"{name}: {child['queries'][name]}")
        protocol = "warm + min-of-3 noop, caches cleared; fresh JVM per query (--isolate)"
    else:
        results = _sweep(names, sf_dirs)
        protocol = "warm + min-of-3 noop, caches cleared"

    payload = {"protocol": protocol, "queries": results}
    print(RESULT + json.dumps(payload))
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=1)
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
