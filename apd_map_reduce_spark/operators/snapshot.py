"""Snapshot diff (change-data-capture primitive): given two versions
of a keyed table, classify every key as added / removed / changed.

The scale shape: both sides reduce to (key, content_hash) BEFORE the
full-outer join, so the diff shuffles two narrow relations (16-byte
digest per row) regardless of row width; unchanged keys are dropped
by a post-join filter, so the output is proportional to the delta,
not the table. This is the primitive behind incremental snapshot
publishing (write only the delta partition) and SCD-style history
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apd_map_reduce_spark.functions.text import hash60, hash60_sql
from apd_map_reduce_spark.plans.layout import spread_by
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table, table_input_size


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, payload: str
) -> DataFrame:
    """(key, status) for every key whose payload changed between
    snapshots; status in ('added', 'removed', 'changed')."""
    o = old.select(F.col(key).alias("k"), F.md5(F.col(payload)).alias("oh"))
    n = new.select(F.col(key).alias("k"), F.md5(F.col(payload)).alias("nh"))
    oo, nn = o.alias("o"), n.alias("n")
    joined = oo.join(nn, F.col("o.k") == F.col("n.k"), "full_outer")
    status = (
        F.when(F.col("o.k").isNull(), F.lit("added"))
        .when(F.col("n.k").isNull(), F.lit("removed"))
        .when(F.col("oh") != F.col("nh"), F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.k"), F.col("n.k")).alias(key),
            status.alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )


# Registry entry: derive two deterministic snapshots from `documents`
# (the test data has no versioned table): the "old" snapshot is missing
# every doc_id % 89 == 0 (these become adds), the "new" snapshot drops
# doc_id % 101 == 0 (removes) and rewrites the text of doc_id % 53 == 0
# (changes). Pure functions of doc_id — engine-identical.
def _snapshot_diff_documents(spark, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 89 != 0)
    new = docs.filter(F.col("doc_id") % 101 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 53 == 0, F.concat(F.lit("v2 "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, key="doc_id", payload="text")


SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id AS k, md5(text) AS oh FROM documents WHERE doc_id % 89 <> 0
),
new AS (
  SELECT doc_id AS k,
         md5(CASE WHEN doc_id % 53 = 0 THEN 'v2 ' || text ELSE text END) AS nh
  FROM documents WHERE doc_id % 101 <> 0
),
j AS (
  SELECT COALESCE(old.k, new.k) AS doc_id,
         CASE WHEN old.k IS NULL THEN 'added'
              WHEN new.k IS NULL THEN 'removed'
              WHEN oh <> nh THEN 'changed' END AS status
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT doc_id, status FROM j WHERE status IS NOT NULL
"""


def table_checksum(
    df: DataFrame,
    cols: list[str],
    input_size: tuple[int, int] | None = None,
) -> DataFrame:
    """Order-insensitive table fingerprint: one row of
    (n_rows, checksum) with checksum = BIT_XOR of a 60-bit md5 hash of
    the '|'-joined column renderings (NULL -> '\\N').

    XOR is commutative/associative and never overflows, so the
    fingerprint is independent of row order, partitioning, and engine —
    this is how you compare a 100 TB table across engines or after a
    migration WITHOUT sorting or shuffling anything: one scan, partial
    XOR per partition, one-row merge. (Caveat by construction: XOR
    cancels duplicate-row PAIRS; n_rows catches pure duplications.)

    Cross-engine caveat: string rendering of NON-integral doubles can
    differ between engines — cast float columns to DECIMAL first when
    fingerprinting across engines (the registry entry uses integer-
    valued columns, where renderings agree)."""
    # Project to the fingerprinted columns, then spread_by: the per-row
    # render+md5 is the CPU stage and XOR-merge is one row per
    # partition, so parallelism is pure win — on a low-split scan the
    # whole hash pass otherwise serializes into one task (measured at
    # sf0.1 lineitem, min/median-of-7: 1.565/1.943 s → 0.595/0.711 s).
    # No-op when the scan already has ≥ cores splits (plans/layout.py).
    # `input_size` = (bytes, n_files) of the scanned table lets the
    # guard estimate splits from file metadata instead of paying a
    # physical-planning probe per construction (r13, ADVICE #4).
    pruned = spread_by(
        df.select(*cols),
        cols,
        input_bytes=input_size[0] if input_size else None,
        input_files=input_size[1] if input_size else 1,
    )
    rendered = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    h = hash60(F.concat_ws("|", *rendered))
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("checksum"),
    )


def _checksum_oracle(table: str, cols: list[str]) -> str:
    rendered = ", ".join(f"COALESCE({c}::VARCHAR, '\\N')" for c in cols)
    return f"""
SELECT COUNT(*) AS n_rows,
       bit_xor({hash60_sql(f"concat_ws('|', {rendered})")}) AS checksum
FROM {table}
"""


def scd2_history(events: DataFrame) -> DataFrame:
    """SCD Type-2 dimension compaction from an observation stream:
    collapse each user's consecutive identical event_type observations
    into validity intervals (user_id, event_type, valid_from, valid_to,
    is_current) — the warehouse-history primitive CDC feeds build.

    A row opens whenever the observed value differs from the previous
    observation (change point); it closes at the NEXT change point's
    timestamp; the last interval per user is open (NULL valid_to,
    is_current = true). Ordering is (ts, event_id) so timestamp ties
    are deterministic; timestamps render as microsecond strings (the
    cross-engine rule — raw timestamps are never emitted).

    Scale: two window passes over the same (user_id)-partitioning —
    Catalyst plans ONE exchange; state per user is a single row. No
    join, no collect."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # A NULL-ts observation has no position in the validity chain —
    # excluded in both engines (engines disagree on NULL sort order).
    marked = (
        events.filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    changes = marked.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), fmt).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


SCD2_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
  WHERE ts IS NOT NULL
),
changes AS (
  SELECT user_id, ts, event_id, event_type FROM marked
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
"""


_LINEITEM_CK_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Batch MERGE (upsert): produce the post-merge snapshot where
    `updates` rows replace base rows with the same `key` and new keys
    append — the batch primitive behind incremental snapshot publishing
    (the streaming twin is `streaming/topk.parquet_merge_sink`'s
    foreachBatch MERGE).

    Shape: updates ∪ (base ⟕anti updates.key). One keyed anti-join
    shuffling only (key) from the updates side plus the base relation —
    row width of `updates` never shuffles twice. Assumes `updates` has
    at most one row per key (enforce upstream with dedup_exact /
    dropDuplicates; duplicated update keys would both survive)."""
    return updates.unionByName(
        base.join(updates.select(key), key, "left_anti")
    )


UPSERT_MOD_UPDATE = 11
UPSERT_MOD_INSERT = 13
UPSERT_INSERT_OFFSET = 1_000_000


def _merge_upsert_documents(spark, sf_dir: str) -> DataFrame:
    """Registry shape: documents merged with a derived update batch —
    docs with doc_id % 11 == 0 get a re-tagged lang (an UPDATE), docs
    with doc_id % 13 == 0 re-enter as brand-new ids (an INSERT)."""
    docs = load_table(spark, sf_dir, "documents")
    updates = docs.filter(F.col("doc_id") % UPSERT_MOD_UPDATE == 0).withColumn(
        "lang", F.concat(F.lit("up_"), F.col("lang"))
    )
    inserts = docs.filter(F.col("doc_id") % UPSERT_MOD_INSERT == 0).withColumn(
        "doc_id", F.col("doc_id") + UPSERT_INSERT_OFFSET
    ).withColumn("source", F.lit("ingest_batch"))
    return merge_upsert(docs, updates.unionByName(inserts), "doc_id")


MERGE_UPSERT_ORACLE = f"""
WITH updates AS (
  SELECT doc_id, text, 'up_' || lang AS lang, source, n_chars
  FROM documents WHERE doc_id % {UPSERT_MOD_UPDATE} = 0
  UNION ALL
  SELECT doc_id + {UPSERT_INSERT_OFFSET} AS doc_id, text, lang,
         'ingest_batch' AS source, n_chars
  FROM documents WHERE doc_id % {UPSERT_MOD_INSERT} = 0
)
SELECT doc_id, text, lang, source, n_chars FROM updates
UNION ALL
SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars
FROM documents b LEFT JOIN updates u USING (doc_id)
WHERE u.doc_id IS NULL
"""


SNAPSHOT_QUERIES = [
    QueryDef("snapshot_diff_documents", _snapshot_diff_documents, SNAPSHOT_DIFF_ORACLE),
    QueryDef(
        "snapshot_table_checksum",
        lambda s, d: table_checksum(
            load_table(s, d, "lineitem"),
            _LINEITEM_CK_COLS,
            input_size=table_input_size(d, "lineitem"),
        ),
        _checksum_oracle("lineitem", _LINEITEM_CK_COLS),
    ),
    QueryDef(
        "events_scd2_history",
        lambda s, d: scd2_history(load_table(s, d, "events")),
        SCD2_ORACLE,
    ),
    QueryDef(
        "snapshot_merge_upsert",
        _merge_upsert_documents,
        MERGE_UPSERT_ORACLE,
    ),
]
