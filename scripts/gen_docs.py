"""Generate docs/QUERIES.md (registry inventory) and docs/PLANS.md
(formatted physical plans for headline queries) from the live registry.

Usage: python scripts/gen_docs.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from apd_map_reduce_spark.plans.quality import formatted_plan  # noqa: E402
from apd_map_reduce_spark.registry import ALL_QUERIES  # noqa: E402
from apd_map_reduce_spark.session import get_spark  # noqa: E402

GROUPS = {
    "corpus_": "Corpus (reference flagship)",
    "q": "Relational (TPC-H-shaped)",
    "semi_": "Joins",
    "anti_": "Joins",
    "rollup_": "Aggregation",
    "cube_": "Aggregation",
    "count_distinct": "Aggregation",
    "approx_": "Aggregation (sketch)",
    "grouping_": "Aggregation",
    "pivot_": "Aggregation",
    "percentile_": "Aggregation",
    "window_": "Windows",
    "customers_above": "Subquery shapes",
    "latest_order": "Subquery shapes",
    "disjunctive": "Subquery shapes",
    "set_ops": "Set operations",
    "topk_": "Top-k",
    "events_": "Events / time",
    "histogram_": "Aggregation",
    "stats_": "Aggregation",
    "agg_": "Aggregation",
    "er_fuzzy": "Entity resolution",
    "data_quality": "Data quality",
    "text_": "Text analysis",
    "dedup_": "Deduplication",
    "simhash_": "Deduplication",
    "ann_": "Similarity search",
    "multimodal_": "Multimodal",
    "corpus_clean": "Pipeline capstone",
    "train_test_": "Curation",
    "stratified_": "Curation",
    "benchmark_": "Curation",
    "pii_": "Curation / PII",
    "doc_chunk": "Curation",
    "pack_": "Curation",
    "mixture_": "Curation",
    "embedding_": "Embeddings",
    "graph_": "Graph",
    "full_outer": "Joins",
    "weighted_sample": "Curation",
    "snapshot_": "Snapshot / CDC",
    "sql_": "Relational (SQL-text surface)",
    "skew_": "Skew mitigation",
    "kmeans_": "Clustering",
    "training_shuffle": "Curation",
}


def group_of(name: str) -> str:
    for prefix, g in GROUPS.items():
        if name.startswith(prefix):
            return g
    return "Other"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = Path(__file__).resolve().parent.parent / "docs"
    out_dir.mkdir(exist_ok=True)

    lines = [
        "# Query inventory (generated by scripts/gen_docs.py)",
        "",
        "Every entry is exposed via `__spark_entry__.queries()`; those with",
        "an oracle are hash-checked against DuckDB by the driver at sf0.01.",
        "",
        "| # | Query | Group | Oracle | Bench headline | Implementation |",
        "|---|---|---|---|---|---|",
    ]
    for i, q in enumerate(ALL_QUERIES, 1):
        fn = q.fn
        mod = getattr(fn, "__module__", "?").replace("apd_map_reduce_spark.", "")
        doc = (getattr(fn, "__doc__", None) or "").strip().splitlines()
        lines.append(
            f"| {i} | `{q.name}` | {group_of(q.name)} | "
            f"{'yes' if q.oracle else 'rows-only'} | "
            f"{'yes' if q.headline else ''} | `{mod}` |"
        )
    lines += [
        "",
        f"Total: {len(ALL_QUERIES)} queries, "
        f"{sum(1 for q in ALL_QUERIES if q.oracle)} oracle-checked.",
        "",
        "## Rows-only residue (permanent by design)",
        "",
        "The only registry entries without a DuckDB oracle are the two",
        "sketch aggregations, and they can never have one:",
        "",
        "* `approx_distinct_users` — HyperLogLog++ (`approx_count_distinct`).",
        "* `approx_percentile_prices` — KLL/GK quantile sketch (`approx_percentile`).",
        "",
        "A sketch's output is a property of the algorithm instance",
        "(hash seeds, merge order, compaction schedule), not of the data",
        "alone — DuckDB's `approx_*` implementations are different",
        "algorithms with different internal state, so exact value-hash",
        "parity is impossible BY CONSTRUCTION, not by omission. Their",
        "correctness evidence is accuracy-bounds testing instead:",
        "`tests/test_oracle_parity.py::test_approx_distinct_within_accuracy_of_exact`",
        "and `::test_approx_percentile_within_accuracy_of_exact` assert",
        "each sketch lands within its declared error bound of the EXACT",
        "aggregate (which IS oracle-checked via `count_distinct_parts` /",
        "`percentile_disc_prices`). The driver records these two as",
        "`no_oracle` in every CORRECTNESS window; that status is",
        "permanent and expected.",
        "",
    ]
    (out_dir / "QUERIES.md").write_text("\n".join(lines))
    print(f"wrote docs/QUERIES.md ({len(ALL_QUERIES)} queries)")

    spark = get_spark(app_name="gen-docs")
    spark.sparkContext.setLogLevel("ERROR")
    plan_lines = [
        "# Physical plans — headline queries (generated)",
        "",
        "`.explain(\"formatted\")` output at sf0.001, AQE on. Reviewed for:",
        "filters reaching the scan (PushedFilters), column pruning",
        "(ReadSchema), broadcast placement, exchange count.",
        "",
        "## Cache lifetime",
        "",
        "Query builders cache shared intermediates (the dedup family's",
        "shingle relations, `pack_token_shards`' tokenized docs,",
        "selection's bucketed tokens, multimodal's decoded batches) at",
        "MEMORY_AND_DISK and deliberately do NOT unpersist: a builder",
        "returns a lazy DataFrame, so no point inside the builder can",
        "prove the cache is done being read. The SESSION OWNER releases",
        "instead — `apd_map_reduce_spark.session.release_caches(spark)`",
        "(SQL-cache clear + a `getPersistentRDDs` sweep for RDD-level",
        "leftovers). The timing protocol (`scripts/timing.py`) calls",
        "`spark.catalog.clearCache()` after every run, the `query` CLI",
        "releases after each run, and a",
        "long-lived session should call the hook at pipeline boundaries.",
        "`tests/test_cache_release.py` asserts the hook leaves zero",
        "persistent RDDs behind after a cache-heavy registry query.",
        "",
    ]
    for q in ALL_QUERIES:
        if not q.headline:
            continue
        plan_lines += [f"## {q.name}", "", "```"]
        plan_lines += formatted_plan(q.fn(spark, sf_dir)).rstrip().splitlines()
        plan_lines += ["```", ""]
    (out_dir / "PLANS.md").write_text("\n".join(plan_lines))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
