"""End-to-end training-data pipeline — the composition story.

Takes a raw documents table to a publishable, deduplicated,
quality-filtered JSONL shard set, using only library operators:

    1. profile       corpus_source_profile     (what are we starting from?)
    2. screen        dedup_incremental         (exact) +
                     dedup_incremental_neardup (LSH)   for NEW batches
    3. clean         remove_boilerplate        (strip repeated spans)
    4. dedup         dup_groups + canonical_selection  (keep best copy)
    5. filter        quality_score thresholds
    6. stratify      perplexity_buckets        (drop the CCNet "tail")
    7. mix           mixture_temperature_rates (alpha=0.5 source damping
                     to a half-char budget, hash-deterministic sampling)
    8. deliver       write_jsonl_shards        (training loader format)

Run:  python examples/training_data_pipeline.py [sf_dir] [out_dir]

Every stage is a DataFrame→DataFrame transform, so Catalyst sees ONE
logical plan per action and the whole flow inherits the operators'
scale posture (keyed joins, banded candidate generation, no collect).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_clean_shards(
    spark: SparkSession, sf_dir: str, out_dir: str, n_shards: int = 8
) -> dict:
    from apd_map_reduce_spark.operators.components import canonical_selection
    from apd_map_reduce_spark.operators.curation import corpus_source_profile
    from apd_map_reduce_spark.operators.dedup import remove_boilerplate
    from apd_map_reduce_spark.operators.textstats import quality_score
    from apd_map_reduce_spark.plans.observe import observed
    from apd_map_reduce_spark.sinks import write_jsonl_shards
    from apd_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    # 1. Profile what we start from (the dataset card of the raw drop).
    profile_rows = corpus_source_profile(docs).count()

    # 2-4. Drop every non-canonical member of each transitive dup
    # group (exact + LSH near-dup closure; keep the longest copy).
    # Survivors = docs in no group at all + each group's canonical.
    # The dup graph (iterative connected components — a driver loop
    # Catalyst can't deduplicate) is computed ONCE and shared.
    from apd_map_reduce_spark.operators.components import dup_groups

    groups = dup_groups(docs).localCheckpoint()
    keep = canonical_selection(docs, groups=groups).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    members = groups.select("doc_id")
    survivors = (
        docs.select("doc_id")
        .join(members, "doc_id", "left_anti")
        .unionByName(keep)
    )
    # Gate accounting rides the final shard write (plans/observe.py):
    # a .count() per gate would re-run the whole upstream DAG per
    # metric at corpus scale.
    survivors, dedup_obs = observed(
        survivors, "dedup_gate", n_docs=F.count(F.lit(1))
    )

    # 3. Strip cross-document boilerplate spans — computed over the
    # SURVIVORS, not the raw corpus: span document-frequency counted
    # pre-dedup would see each dup group's entire content as a
    # "repeated span" and blank the very copy dedup chose to keep.
    survivor_docs = docs.join(survivors, "doc_id", "left_semi")
    cleaned = remove_boilerplate(survivor_docs)

    # 5. Quality gate on the CLEANED text length + raw-doc ratios.
    q = quality_score(docs).select("doc_id", "alpha_token_ratio")
    final = (
        cleaned.join(q, "doc_id")
        .filter(
            (F.size(F.split(F.col("clean_text"), " ")) >= 5)
            & (F.col("clean_text") != "")
            & (F.col("alpha_token_ratio") >= 0.5)
        )
        .select("doc_id", F.col("clean_text").alias("text"))
    )

    # 6. CCNet-style quality stratification: score on the RAW text
    # (the LM-proxy statistic is defined pre-cleaning) and DROP only
    # the explicit "tail" bucket. Anti-join on the tail rather than
    # semi-join on the head: perplexity_buckets never emits a row for
    # a doc that tokenizes to zero tokens, and a semi-join would
    # silently remove such unscored docs as if they had scored badly.
    # (Unscored docs can't currently reach this point — the clean_text
    # gate above requires surviving tokens — but the gate's semantics
    # shouldn't depend on that coincidence.)
    from apd_map_reduce_spark.operators.textstats import perplexity_buckets

    drop_tail = (
        perplexity_buckets(docs)
        .filter(F.col("bucket_label") == "tail")
        .select("doc_id")
    )
    final = final.join(drop_tail, "doc_id", "left_anti")
    final, quality_obs = observed(
        final, "quality_gate", n_docs=F.count(F.lit(1))
    )
    # three consumers downstream (rates derivation, the mixed-shard
    # write, the pre_mix stat) — cache so the dedup/clean/quality
    # chain above executes once, not per consumer; the observation
    # fires once, when the cache first materializes
    final = final.cache()

    # 7. Temperature mixture (alpha=0.5): compute per-source sampling
    # shares over the SURVIVING corpus, then downsample each source to
    # its share of a half-char budget with the same hash-deterministic
    # ppm filter mixture_rebalance uses (pure function of doc_id — no
    # RNG, reproducible across runs/partitionings). keep_ppm caps at
    # 1e6: sources whose temperature share exceeds their size keep
    # everything (upsampling is the loader's job — epochs, not row
    # duplication in the published shards).
    from apd_map_reduce_spark.operators.curation import (
        mixture_temperature_rates,
    )
    from apd_map_reduce_spark.functions.text import hash60

    surv_src = docs.join(final.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "source", "n_chars"
    )
    rates = mixture_temperature_rates(surv_src)
    total = rates.agg(F.sum("total_chars").alias("corpus_chars"))
    ppm = (
        rates.crossJoin(F.broadcast(total))
        .withColumn(
            "keep_ppm",
            F.least(
                F.lit(1_000_000),
                F.round(
                    F.lit(500_000.0)  # 1e6 ppm x half-budget
                    * F.col("corpus_chars").cast("double")
                    * F.col("sample_rate")
                    / F.col("total_chars").cast("double")
                ).cast("long"),
            ),
        )
        .select("source", "keep_ppm")
    )
    mix_key = (
        hash60(F.concat(F.lit("mixs:"), F.col("doc_id").cast("string"))) % 1_000_000
    )
    mixed = (
        final.join(docs.select("doc_id", "source"), "doc_id")
        .join(F.broadcast(ppm), "source")
        .filter(mix_key < F.col("keep_ppm"))
        .select("doc_id", "text")
    )

    # 8. Deliver as deterministic JSONL shards. The two gate
    # observations materialize as side effects of this one action —
    # zero additional scans (published stays a read-back count: an
    # independent verification of what actually landed on disk).
    write_jsonl_shards(mixed, out_dir, n_shards=n_shards)
    n_out = spark.read.json(out_dir).count()
    return {
        "raw_docs": docs.count(),
        "profile_rows": profile_rows,
        "survivors": dedup_obs.get["n_docs"],
        "pre_mix": quality_obs.get["n_docs"],
        "published": n_out,
        "out_dir": out_dir,
    }


def main() -> int:
    from apd_map_reduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/clean_shards"
    spark = get_spark(app_name="training-data-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    stats = build_clean_shards(spark, sf_dir, out_dir)
    print(stats)
    return 0


if __name__ == "__main__":
    sys.exit(main())
