"""Inverted-index / document-frequency pipeline — the reference's one
built-in job, re-expressed Spark-first (SURVEY.md §0, §3.1).

Semantic contract (bit-exact vs the reference goldens):

    scan(file_id, line)
      → explode(split(line, '\\s+'))                      [S2]
      → lower(regexp_replace(token, '[^A-Za-z]', ''))     [P1]
      → filter word != ''                                 [P2]
      → groupBy(word).agg(sort_array(collect_set(file_id)),
                          df = size(...))                 [A1+A2+A3, X1-X3]
      → orderBy(df DESC, word ASC)                        [O1]
      → per-letter text sink 'word:[id1 id2 ...]'         [S4]

Physical plan (what Catalyst produces, verified via .explain):
FileScan text → Generate(explode) → Project/Filter →
ObjectHashAggregate(partial collect_set) → Exchange(hash by word) →
ObjectHashAggregate(final) → Arrow collect → driver-side sort → letter
files. The partial aggregation IS the reference's per-mapper
`map<word,set<int>>` combiner (`tema1a/src/main.cpp:101-103`); the
exchange IS its barrier+fetch (`main.cpp:111-135`). Zero custom
planning code.

Scale posture: the only global operation is the shuffle keyed by word
(high cardinality → even distribution; no skew risk akin to the
reference's 26-letter cap, SURVEY.md §6.3). The letter-file sink
collects the formatted index to the driver, because the reference's
contract is 26 local files; partitioned outputs stay in `sinks.py`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.plans.layout import explode_nonnull

from apd_map_reduce_spark.functions.text import tokenize_normalized

ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def words(corpus: DataFrame, id_col: str = "file_id", text_col: str = "line") -> DataFrame:
    """corpus(id, text) → (word, id): tokenize, normalize, drop empties.

    explode() after the array-level normalize keeps the per-token work
    inside whole-stage codegen and prunes empties before the shuffle.
    """
    # No spread() INSIDE words(): the tradeoff is input-layout-
    # dependent, so the CALLER owns it. The reference CLI path scans
    # 355 text files (≥ cores splits) where the exchange costs more
    # than it buys (A/B at sf0.1: 0.35 s direct vs 0.45 s spread); the
    # registry's parquet corpus is ONE row group per file, where the
    # unspread scan serializes the tokenize (r9 A/B: word count sf10
    # 17.6 s direct vs 2.5 s spread) — queries/corpus.py spreads at
    # its call sites, and the unspread-text-CPU plan gate enforces
    # that registry-wide. explode_nonnull so the optimizer's inferred
    # size-filter doesn't re-evaluate the tokenizer a second time
    # below the scan (plans/layout.py).
    return explode_nonnull(
        corpus, [F.col(id_col).alias("file_id")], tokenize_normalized(text_col), "word"
    ).select("word", "file_id")


def inverted_index(corpus: DataFrame, id_col: str = "file_id", text_col: str = "line") -> DataFrame:
    """Full index relation: DataFrame[word, file_ids ARRAY<>, df INT].

    `sort_array` is mandatory — `collect_set` order is nondeterministic
    (SURVEY.md §7.1 determinism invariant).
    """
    return (
        words(corpus, id_col, text_col)
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("file_id")).alias("file_ids"))
        .withColumn("df", F.size("file_ids"))
    )


def ranked_index(corpus: DataFrame, id_col: str = "file_id", text_col: str = "line") -> DataFrame:
    """Index ordered by the reference's two-key contract (df DESC, word ASC)."""
    return inverted_index(corpus, id_col, text_col).orderBy(F.desc("df"), F.asc("word"))


def format_rows(index: DataFrame) -> DataFrame:
    """Serialize rows to the sink line format `word:[id1 id2 ...]`
    (`tema1a/src/main.cpp:166-171`), keyed by first letter."""
    return index.select(
        F.substring("word", 1, 1).alias("letter"),
        F.col("df"),
        F.col("word"),
        F.concat(
            F.col("word"), F.lit(":["), F.array_join("file_ids", " "), F.lit("]")
        ).alias("text_line"),
    )


def write_letter_files(index: DataFrame, out_dir: str) -> None:
    """The reference sink: one `<letter>.txt` per letter a-z, rows
    ordered (df DESC, word ASC) within each file; empty letters write
    empty files (superset behavior — SURVEY.md §5.2 decision). A row
    whose word does not start with a-z has no file and is not written.

    One Arrow collect of the formatted rows, then one driver-side sort
    on (letter, df DESC, word ASC) and one write per file: no exchange,
    no part files, every output byte written once. Words are `[a-z]+`
    (functions/text.py), so Arrow's byte order is Spark's string order.
    The driver holds the output once, capped by
    `spark.driver.maxResultSize`; partitioned part-file outputs at
    100 TB are `sinks.py`'s job, the reference's contract is 26 files.
    """
    import pyarrow.compute as pc

    table = format_rows(index).toArrow()
    table = table.take(
        pc.sort_indices(
            table, [("letter", "ascending"), ("df", "descending"), ("word", "ascending")]
        )
    )
    os.makedirs(out_dir, exist_ok=True)
    for ch in ALPHABET:
        lines = table["text_line"].filter(pc.equal(table["letter"], ch))
        with open(os.path.join(out_dir, f"{ch}.txt"), "w", encoding="utf-8") as out:
            out.writelines(f"{line}\n" for line in lines.to_pylist())
