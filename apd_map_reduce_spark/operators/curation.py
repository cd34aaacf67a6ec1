"""Training-data curation operators (driver mandate: "operations a
large-scale training-data pipeline would need"): deterministic
train/eval splitting, stratified sampling, and benchmark-contamination
detection.

All determinism is md5-derived (`functions.text.hash60` and its SQL twin),
so every operator has a bitwise-identical DuckDB oracle — no RNG, no
engine-specific sampling.

Scale design:
  * split — a projection + aggregation; the split assignment is a pure
    function of doc_id, so it is reproducible across runs/engines and
    needs no shuffle beyond the final count.
  * stratified sample — one window partitioning by stratum; the hash
    order makes the sample deterministic AND uniform-ish without a
    global sort.
  * contamination — shingle-inverted-index join of corpus vs benchmark,
    benchmark side broadcast (benchmark sets are small by construction);
    the corpus side is stop-shingle-filtered (df > MAX_SHINGLE_DF
    dropped) so no single boilerplate shingle creates a hot join key at
    100 TB. Mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    TOKENS_SQL,
    hash60,
    hash60_sql,
    null_safe_size,
    tokenize_normalized,
)
from apd_map_reduce_spark.operators.dedup import (
    MAX_SHINGLE_DF,
    _SHINGLES_CTE,
    doc_shingle_hashes,
    stop_shingle_filter,
)
from apd_map_reduce_spark.plans.layout import explode_nonnull, spread
from apd_map_reduce_spark.queries.base import QueryDef, grouped_topk, two_phase_rank
from apd_map_reduce_spark.sources.tables import load_table

EVAL_PCT = 10
SAMPLE_K = 20
BENCH_MOD = 97


def train_test_split_hash(docs: DataFrame, eval_pct: int = EVAL_PCT) -> DataFrame:
    """Deterministic train/eval split: md5-bucket each doc_id into 100
    buckets; the first `eval_pct` are 'eval'. Per (split, lang) counts.

    The assignment is a pure function of doc_id — stable under
    re-partitioning, re-runs, and engine changes, which is what makes
    a split reproducible in a pipeline that reprocesses data."""
    bucket = hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return (
        docs.select(
            F.when(bucket < eval_pct, F.lit("eval")).otherwise(F.lit("train")).alias("split"),
            "lang",
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SPLIT_ORACLE = f"""
SELECT CASE WHEN {hash60_sql("'split:' || doc_id::VARCHAR")} % 100 < {EVAL_PCT}
            THEN 'eval' ELSE 'train' END AS split,
       lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def stratified_sample_exact(docs: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Deterministic stratified sample: per lang, the k docs with the
    smallest md5-derived sample key. No RNG; the hash order is uniform
    over docs so the sample is unbiased, and deterministic so it is
    reproducible (and oracle-checkable).

    Ranked through the two-stage `grouped_topk`, NOT a bare
    `row_number over (partition by lang)`: lang is a handful of
    values, so the single-window form ranks corpus/|langs| rows
    through one task at any scale. (hash, doc_id) is already a total
    order, so the salted rewrite is output-identical."""
    key = hash60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    # spread(): the md5 sample keys are per-row CPU; a low-split scan
    # (one row group at sf10) otherwise computes all of them in one
    # task (adjudicated: med task 6 ms, max 982 ms before the spread).
    keyed = spread(docs).select("lang", "doc_id", key.alias("_skey"))
    return grouped_topk(
        keyed,
        ["lang"],
        (F.col("_skey").asc(), F.col("doc_id").asc()),
        k,
        salt_on="doc_id",
        rank_name="rnk",
    ).select("lang", "rnk", "doc_id")


SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {hash60_sql("'sample:' || doc_id::VARCHAR")} ASC,
                    doc_id ASC
         ) AS rnk
  FROM documents
)
SELECT lang, rnk, doc_id FROM ranked WHERE rnk <= {SAMPLE_K}
"""


WEIGHTED_K = 50


def weighted_sample_topk(docs: DataFrame, k: int = WEIGHTED_K) -> DataFrame:
    """Deterministic weighted sample without replacement
    (Efraimidis-Spirakis A-ES): each doc gets key = ln(u) / w with
    u = hash-uniform in (0, 1) and weight w = n_chars + 1; the k
    LARGEST keys are the sample, so longer documents are
    proportionally more likely — but the draw is a pure function of
    doc_id, reproducible across runs and engines (no RNG).

    One global top-k: at scale this is a per-partition top-k followed
    by a k-row merge (Spark's TakeOrderedAndProject), never a full
    sort. The key is rounded to 9 decimals before ranking so both
    engines rank an identical value (ties break on doc_id)."""
    u = (hash60(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))) + 1).cast(
        "double"
    ) / F.lit(float(1 << 60))
    key = F.round(F.log(u) / (F.col("n_chars") + 1), 9)
    return (
        docs.select(
            "doc_id",
            (F.col("n_chars") + 1).alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(k)
    )


WEIGHTED_SAMPLE_ORACLE = f"""
SELECT doc_id, n_chars + 1 AS weight,
       ROUND(ln(({hash60_sql("'wsample:' || doc_id::VARCHAR")} + 1)::DOUBLE
                / {float(1 << 60)}) / (n_chars + 1), 9) AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WEIGHTED_K}
"""


def benchmark_contamination(
    docs: DataFrame, bench_mod: int = BENCH_MOD, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Benchmark contamination check: word-3-gram shingle overlap
    between every corpus doc and a benchmark subset (stand-in: docs
    with doc_id % bench_mod == 0 — in a real pipeline the benchmark
    table arrives separately but is equally small).

    Returns (doc_id, bench_id, n_overlap) for every contaminated pair
    (≥1 shared non-boilerplate shingle). Corpus shingles with document
    frequency > max_df are dropped first (stop-shingle guard, same as
    the dedup family) so a corpus-wide boilerplate trigram cannot make
    one shingle key quadratic; the benchmark side then broadcasts."""
    sh = stop_shingle_filter(doc_shingle_hashes(docs), max_df=max_df)
    bench = sh.filter((F.col("doc_id") % bench_mod) == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    return (
        sh.join(F.broadcast(bench), "sh")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


CONTAMINATION_ORACLE = f"""
WITH {_SHINGLES_CTE},
shf AS (
  SELECT doc_id, sh FROM shh
  WHERE sh NOT IN (
    SELECT sh FROM shh GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF}
  )
),
bench AS (
  SELECT doc_id AS bench_id, sh FROM shf WHERE doc_id % {BENCH_MOD} = 0
)
SELECT s.doc_id, b.bench_id, COUNT(*) AS n_overlap
FROM shf s JOIN bench b USING (sh)
WHERE s.doc_id <> b.bench_id
GROUP BY 1, 2
"""


CHUNK_TOKENS = 32
SHARD_TOKENS = 2048
# Mixture rebalance rates in millionths (integer thresholds — no float
# compare): downsample dominant English, quality-downsample zh,
# keep the rest. In production these arrive as config per source/lang.
MIX_RATES_PPM = {"en": 500_000, "zh": 250_000}
MIX_DEFAULT_PPM = 1_000_000


def chunk_documents(docs: DataFrame, chunk_tokens: int = CHUNK_TOKENS) -> DataFrame:
    """Fixed-size token chunking — the doc→training-sequence explode
    every pretraining pipeline runs. Emits (doc_id, chunk_idx 1-based,
    n_chunk_tokens, chunk_md5); the md5 stands in for the chunk text so
    the checked result stays narrow (the text itself is
    ``array_join(slice(...))`` — same expression minus the hash).

    Scale: pure per-row explode — no shuffle; output rows ≈ tokens/C,
    so the operator is scan-bound and embarrassingly parallel."""
    toks = tokenize_normalized("text")
    df = spread(docs).select("doc_id", toks.alias("ts"))
    n_chunks = F.ceil(F.size("ts") / F.lit(float(chunk_tokens))).cast("int")
    chunk = F.slice(F.col("ts"), F.col("ci") * chunk_tokens + 1, chunk_tokens)
    # when-guarded sequence instead of a size filter: the filter form
    # pushed the tokenizer below the scan as a duplicate evaluation
    # (the InferFiltersFromGenerate/pushdown trap, plans/layout.py);
    # zero-token docs now yield an empty chunk array and fall out at
    # the explode_nonnull, same contract.
    seq = F.when(
        F.size("ts") > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        explode_nonnull(df, ["doc_id", "ts"], seq, "ci")
        .select(
            "doc_id",
            (F.col("ci") + 1).cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


# shared with the UDTF twin in udtfs.py so the "same oracle" contract
# lives in exactly one constant
CHUNKS_ORACLE_SQL = f"""
WITH toksq AS (SELECT doc_id, {TOKENS_SQL} AS ts FROM documents),
nz AS (SELECT doc_id, ts FROM toksq WHERE len(ts) > 0),
c AS (
  SELECT doc_id, ts,
         unnest(generate_series(0, ceil(len(ts) / {CHUNK_TOKENS}.0)::INT - 1)) AS ci
  FROM nz
)
SELECT doc_id, (ci + 1)::BIGINT AS chunk_idx,
       len(list_slice(ts, ci * {CHUNK_TOKENS} + 1, ci * {CHUNK_TOKENS} + {CHUNK_TOKENS}))::BIGINT
         AS n_chunk_tokens,
       md5(array_to_string(
         list_slice(ts, ci * {CHUNK_TOKENS} + 1, ci * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' '))
         AS chunk_md5
FROM c
"""


PACK_BLOCK_DOCS = 4096  # docs per prefix-sum block (two-level scan)


def pack_token_shards(
    docs: DataFrame, budget: int = SHARD_TOKENS, block: int = PACK_BLOCK_DOCS
) -> DataFrame:
    """Offset-based shard packing: docs are laid out in doc_id order
    inside each language and a doc belongs to the shard its cumulative
    start offset falls in (floor(cum_before / budget)) — the standard
    "concatenate then cut every B tokens" sharding, at doc granularity.

    Scale: the running sum is a TWO-LEVEL prefix sum (the classic
    parallel-scan decomposition), not a per-lang running window — a
    window partitioned by lang is global per stratum and pushes
    corpus/|langs| rows through one task. Level 1 aggregates token
    totals per (lang, doc_id div block) — distributed, map-side
    partial. Level 2 prefix-sums the block-partial relation (block×
    smaller than the corpus; the only ordered window, and its input
    is the aggregated relation). Block offsets join back on
    (lang, block) — the same key the level-3 within-block window
    partitions on, so the exchange is reused — and each within-block
    group holds ≤ block rows by construction. Output identical to the
    single-window form because blk = doc_id div block is monotone in
    doc_id. Returns per-shard stats, not per-doc rows."""
    from pyspark.sql.window import Window

    # Cached: `counts` feeds both the block aggregation and the join
    # probe side; without the cache the tokenizer (the CPU-bound
    # stage, ~2.7 s of the query's ~3 s at sf1) is evaluated twice —
    # measured at sf1: 8.0 s uncached vs 3.0 s cached, min-of-3.
    # Same MEMORY_AND_DISK convention as the dedup family's shingle
    # caches: spills rather than OOMs at cluster scale. spread() first
    # (the dedup-family rule, plans/layout.py) so the tokenize stage
    # is never serialized by a low-split scan — adjudicated at sf10:
    # one 500k-row row group put the whole 23 s tokenize pass in ONE
    # task (med task 61 ms, max 23,299 ms) before the spread.
    counts = spread(docs).select(
        "lang",
        "doc_id",
        null_safe_size(tokenize_normalized("text")).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {block}").alias("blk"),
    ).cache()
    block_tot = counts.groupBy("lang", "blk").agg(
        F.sum("n_tokens").alias("blk_tokens")
    )
    w_blk = Window.partitionBy("lang").orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = block_tot.select(
        "lang",
        "blk",
        F.coalesce(F.sum("blk_tokens").over(w_blk), F.lit(0).cast("long")).alias(
            "blk_before"
        ),
    )
    w_in = Window.partitionBy("lang", "blk").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_in_blk = F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0).cast("long"))
    # eqNullSafe on lang: windows and groupBy treat NULL as a real
    # group, so the offsets join must too — a name-list (null-unsafe)
    # join silently drops every NULL-lang doc's shard row.
    offsets = offsets.withColumnsRenamed({"lang": "_lang", "blk": "_blk"})
    return (
        counts.join(
            offsets,
            F.col("lang").eqNullSafe(F.col("_lang")) & (F.col("blk") == F.col("_blk")),
        )
        .drop("_lang", "_blk")
        .withColumn(
            "shard_id",
            F.floor((F.col("blk_before") + cum_in_blk) / budget).cast("long"),
        )
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_packed"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


SHARDS_ORACLE = f"""
WITH counts AS (
  SELECT lang, doc_id, len({TOKENS_SQL})::BIGINT AS n_tokens FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM counts
)
SELECT lang, (cum_before // {SHARD_TOKENS})::BIGINT AS shard_id,
       COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens_packed,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM cum GROUP BY 1, 2
"""


def mixture_rebalance(docs: DataFrame) -> DataFrame:
    """Deterministic weighted mixture sampling: keep a doc iff
    hash60('mix:'||doc_id) mod 1e6 falls under its language's rate —
    a pure function of (doc_id, lang), so the mixture is reproducible
    across runs, engines, and repartitioning (no RNG, no sample()).
    Emits the surviving (doc_id, lang) rows."""
    key = hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1_000_000
    rate = F.lit(MIX_DEFAULT_PPM)
    for lang, ppm in sorted(MIX_RATES_PPM.items()):
        rate = F.when(F.col("lang") == lang, F.lit(ppm)).otherwise(rate)
    return docs.filter(key < rate).select("doc_id", "lang")


_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {ppm}" for lang, ppm in sorted(MIX_RATES_PPM.items())
)
MIXTURE_ORACLE = f"""
SELECT doc_id, lang FROM documents
WHERE {hash60_sql("'mix:' || doc_id::VARCHAR")} % 1000000
      < (CASE lang {_MIX_CASE} ELSE {MIX_DEFAULT_PPM} END)
"""


def mixture_temperature_rates(docs: DataFrame) -> DataFrame:
    """Temperature-based mixture sampling rates per source — the
    "alpha sampling" move multilingual/multi-source pretraining uses
    (mC4/XLM-R style): sampling weight = size^alpha with alpha < 1, so
    small sources are upsampled relative to their share and dominant
    sources damped; rates are what a loader feeds `mixture_rebalance`-
    shaped filters. alpha is FIXED at 0.5 because sqrt is the one
    power IEEE 754 requires correctly rounded — pow(x, 0.7) is
    libm-dependent and could differ in the last ulp across engines,
    which a hash gate cannot tolerate (DETERMINISM: each weight is
    round(sqrt, 6) → DECIMAL, the normalizing total is an exact
    decimal sum, and the final rate is one scalar double division on
    identical operands).

    Size measure = SUM(n_chars) (exact BIGINT — a char-budget proxy
    for tokens), not doc count, so many-tiny-docs sources are not
    overweighted.

    Scale: one groupBy over the corpus (|sources| rows out), a 1-row
    total broadcast back over the |sources|-row relation — constant
    beyond the single aggregation scan."""
    sizes = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    sized = sizes.withColumn(
        "weight",
        F.round(F.sqrt(F.col("total_chars").cast("double")), 6).cast(
            "decimal(24,6)"
        ),
    )
    total = sized.agg(F.sum("weight").alias("total_weight"))
    return (
        sized.crossJoin(F.broadcast(total))
        .withColumn(
            "sample_rate",
            F.round(
                F.col("weight").cast("double") / F.col("total_weight").cast("double"),
                6,
            ),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.col("weight").cast("double").alias("weight"),
            "sample_rate",
        )
    )


TEMPERATURE_RATES_ORACLE = """
WITH sizes AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS total_chars
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(ROUND(sqrt(total_chars::DOUBLE), 6) AS DECIMAL(24,6)) AS weight
  FROM sizes
),
t AS (SELECT SUM(weight) AS total_weight FROM w)
SELECT source, n_docs, total_chars, weight::DOUBLE AS weight,
       ROUND(weight::DOUBLE / total_weight::DOUBLE, 6) AS sample_rate
FROM w CROSS JOIN t
"""


N_SHUFFLE_SHARDS = 16
SHUFFLE_SEED = "r3"


def training_shuffle_order(
    docs: DataFrame, n_shards: int = N_SHUFFLE_SHARDS, seed: str = SHUFFLE_SEED
) -> DataFrame:
    """Reproducible global corpus shuffle for training-order assignment:
    (doc_id, shard, pos). Shuffle key = md5 of the seeded doc id — a
    pure function, so re-running on the same corpus gives the same
    order (no RNG, engine-identical); shard = 60-bit key prefix mod
    n_shards; pos = rank within the shard by (key, doc_id).

    Scale posture: pos is a POSITIONAL rank, so it goes through
    `two_phase_rank`, not a per-shard window — with a fixed n_shards
    (16 by default: shard count is a loader-topology constant, not
    corpus-proportional) a bare window funnels corpus/n_shards rows
    through one task. The rank's range buckets are the first two hex
    chars of the shuffle key (fixed-width lowercase hex compares
    lexicographically == numerically, so the bucket is monotone in
    skey and uniform by md5), giving shards × 256 distributed cells;
    the only ordered full-shard window runs over the 256-row-per-shard
    bucket-count relation. Readers stream shard s in pos order; epoch
    reshuffles are just a new seed."""
    key = F.md5(
        F.concat_ws(":", F.lit("shuffle"), F.lit(seed), F.col("doc_id"))
    )
    df = docs.select(
        "doc_id",
        key.alias("skey"),
        (F.conv(F.substring(key, 1, 15), 16, 10).cast("long") % n_shards).alias(
            "shard"
        ),
    )
    return two_phase_rank(
        df,
        ["shard"],
        (F.asc("skey"), F.asc("doc_id")),
        bucket=F.substring("skey", 1, 2),
        rank_name="pos",
        n_name="_n",
    ).select("doc_id", "shard", "pos")


SHUFFLE_ORDER_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         md5(concat_ws(':', 'shuffle', '{SHUFFLE_SEED}', doc_id::VARCHAR)) AS skey
  FROM documents
),
h AS (
  SELECT doc_id, skey,
         ('0x' || substr(skey, 1, 15))::BIGINT % {N_SHUFFLE_SHARDS} AS shard
  FROM s
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
FROM h
"""


def corpus_source_profile(docs: DataFrame) -> DataFrame:
    """Dataset-card profile per (lang, source): the summary every
    curated-corpus release publishes — document count, exact-duplicate
    rate within the slice, token volume, and mean document length.

    Determinism: counts and sums are exact integers; the two ratios are
    single double divisions of exact integers rounded to 6 dp —
    engine-identical. Scale: one groupBy on a low-cardinality composite
    key (map-side partial aggregation does nearly all the work; the
    distinct-digest count rewrites to a two-level aggregate, still
    keyed by (lang, source, digest) — uniform, skew-free)."""
    toks = tokenize_normalized("text")
    per_doc = spread(docs).select(
        "lang",
        "source",
        F.md5("text").alias("digest"),
        null_safe_size(toks).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("digest").alias("n_distinct"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            F.round(
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_ratio"),
            F.round(
                F.col("sum_chars").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("mean_chars"),
        )
    )


SOURCE_PROFILE_ORACLE = f"""
WITH per_doc AS (
  SELECT lang, source, md5(text) AS digest,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(1.0 - CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 6) AS dup_ratio,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars
FROM per_doc GROUP BY lang, source
"""


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


CURATION_QUERIES = [
    QueryDef(
        "train_test_split_hash",
        lambda s, d: train_test_split_hash(_docs(s, d)),
        SPLIT_ORACLE,
    ),
    QueryDef(
        "stratified_sample_exact",
        lambda s, d: stratified_sample_exact(_docs(s, d)),
        SAMPLE_ORACLE,
    ),
    QueryDef(
        "benchmark_contamination",
        lambda s, d: benchmark_contamination(_docs(s, d)),
        CONTAMINATION_ORACLE,
    ),
    QueryDef(
        "weighted_sample_topk",
        lambda s, d: weighted_sample_topk(_docs(s, d)),
        WEIGHTED_SAMPLE_ORACLE,
    ),
    QueryDef(
        "doc_chunk_sequences",
        lambda s, d: chunk_documents(_docs(s, d)),
        CHUNKS_ORACLE_SQL,
    ),
    QueryDef(
        "pack_token_shards",
        lambda s, d: pack_token_shards(_docs(s, d)),
        SHARDS_ORACLE,
    ),
    QueryDef(
        "mixture_rebalance",
        lambda s, d: mixture_rebalance(_docs(s, d)),
        MIXTURE_ORACLE,
    ),
    QueryDef(
        "mixture_temperature_rates",
        lambda s, d: mixture_temperature_rates(_docs(s, d)),
        TEMPERATURE_RATES_ORACLE,
    ),
    QueryDef(
        "training_shuffle_order",
        lambda s, d: training_shuffle_order(_docs(s, d)),
        SHUFFLE_ORDER_ORACLE,
    ),
    QueryDef(
        "corpus_source_profile",
        lambda s, d: corpus_source_profile(_docs(s, d)),
        SOURCE_PROFILE_ORACLE,
    ),
]
