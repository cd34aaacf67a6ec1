"""Golden tests for the inverted-index slice (SURVEY.md §7.2).

Expected values are the reference's worked example
(`/root/reference/README.md:118-431`, recorded in FIXTURES.md F4),
typed out independently here — not copied files.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from apd_map_reduce_spark.operators.invindex import (
    ALPHABET,
    inverted_index,
    ranked_index,
    write_letter_files,
)
from apd_map_reduce_spark.sources.manifest import read_corpus, read_manifest

GOLDEN_SMALL = {
    "a": ["and:[2]", "are:[1]", "as:[1]"],
    "b": ["blue:[1 2]", "birds:[1]", "bright:[1]", "brightly:[3]", "by:[2]"],
    "c": ["calm:[2]", "clouds:[2]"],
    "e": ["evening:[3]"],
    "f": ["float:[2]"],
    "g": ["gentle:[2]"],
    "i": ["in:[1 3]", "is:[2]"],
    "m": ["morning:[2]"],
    "p": ["peaceful:[3]"],
    "q": ["quiet:[3]"],
    "s": ["sky:[1 2 3]", "shine:[3]", "shines:[1]", "singing:[1]", "stars:[3]", "sun:[1]"],
    "t": ["the:[1 2 3]", "this:[2]", "today:[1]"],
}
GOLDEN_BYTES = {
    ch: "".join(f"{line}\n" for line in GOLDEN_SMALL.get(ch, [])).encode()
    for ch in ALPHABET
}


def _letter_bytes(out) -> dict[str, bytes]:
    assert sorted(os.listdir(out)) == [f"{ch}.txt" for ch in ALPHABET]
    return {ch: (Path(out) / f"{ch}.txt").read_bytes() for ch in ALPHABET}


@pytest.fixture(scope="module")
def small_corpus(spark, small_corpus_dir):
    manifest = read_manifest(spark, os.path.join(small_corpus_dir, "manifest.txt"))
    return read_corpus(spark, manifest)


def test_manifest_ordinals(spark, small_corpus_dir):
    m = read_manifest(spark, os.path.join(small_corpus_dir, "manifest.txt"))
    rows = sorted(m.collect())
    assert [r.file_id for r in rows] == [1, 2, 3]
    assert rows[0].path.endswith("file1.txt")


@pytest.mark.parametrize("entries", [2, 0])
def test_read_manifest_is_a_local_relation(spark, tmp_path, entries):
    """The manifest crosses to the JVM as an Arrow local relation: no
    pickled RDD, so using it starts no Python worker."""
    path = tmp_path / "manifest.txt"
    path.write_text(f"{entries}\n" + "".join(f"/data/f{i}.txt\n" for i in range(entries)))
    m = read_manifest(spark, str(path))
    qe = m._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "LogicalRDD" not in qe.optimizedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    assert m.schema.simpleString() == "struct<file_id:int,path:string>"
    assert [tuple(r) for r in m.collect()] == [
        (i + 1, f"/data/f{i}.txt") for i in range(entries)
    ]


def test_local_frames_have_one_home():
    """Every driver-side row list becomes a DataFrame through
    `sources.tables.local_frame` (an Arrow local relation)."""
    pkg = Path(__file__).resolve().parents[1] / "apd_map_reduce_spark"
    sites = [
        str(path.relative_to(pkg))
        for path in sorted(pkg.rglob("*.py"))
        if "createDataFrame(" in path.read_text(encoding="utf-8")
    ]
    assert sites == ["sources/tables.py"]


def test_index_relation(small_corpus):
    idx = {r.word: (r.file_ids, r.df) for r in inverted_index(small_corpus).collect()}
    assert idx["sky"] == ([1, 2, 3], 3)
    assert idx["the"] == ([1, 2, 3], 3)
    assert idx["blue"] == ([1, 2], 2)
    assert idx["in"] == ([1, 3], 2)  # "morning," normalizes away from 'in'
    assert "" not in idx
    assert len(idx) == sum(len(v) for v in GOLDEN_SMALL.values())  # 27 distinct words


def test_golden_letter_files(small_corpus, tmp_path):
    out = str(tmp_path / "out")
    write_letter_files(ranked_index(small_corpus), out)
    for ch in ALPHABET:
        path = os.path.join(out, f"{ch}.txt")
        assert os.path.exists(path), f"missing {ch}.txt"
        with open(path) as fh:
            lines = [ln.rstrip("\n") for ln in fh if ln.strip()]
        assert lines == GOLDEN_SMALL.get(ch, []), f"letter {ch}"


@pytest.mark.parametrize("partitions", [1, 7])
def test_letter_files_byte_exact(spark, small_corpus, tmp_path, partitions):
    """The sink's bytes are the golden rendering, whatever the shuffle
    partition count, and it writes nothing beside `out_dir`: a sibling
    named like a Spark temp dir is left alone."""
    out = tmp_path / "out"
    sibling = tmp_path / "out.__spark_tmp__"
    sibling.mkdir()
    (sibling / "keep").write_text("not the sink's")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        write_letter_files(inverted_index(small_corpus), str(out))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert _letter_bytes(out) == GOLDEN_BYTES
    assert sorted(os.listdir(tmp_path)) == ["out", "out.__spark_tmp__"]
    assert os.listdir(sibling) == ["keep"]


def test_letter_files_ranked_equals_unranked(small_corpus, tmp_path):
    write_letter_files(ranked_index(small_corpus), str(tmp_path / "ranked"))
    write_letter_files(inverted_index(small_corpus), str(tmp_path / "unranked"))
    assert _letter_bytes(tmp_path / "ranked") == _letter_bytes(tmp_path / "unranked")


def test_letter_files_edge_rows(spark, tmp_path):
    """Rows whose word does not start with a-z have no file and are
    not written; an empty index writes 26 empty files; a rerun
    truncates stale letter files."""
    index = spark.createDataFrame(
        [
            ("zeta", [1, 2], 2),
            ("zap", [3], 1),
            ("Apple", [1], 1),
            ("\u00e9t\u00e9", [2], 1),
            ("9lives", [3], 1),
            ("", [4], 1),
        ],
        "word STRING, file_ids ARRAY<INT>, df INT",
    )
    out = tmp_path / "out"
    write_letter_files(index, str(out))
    assert _letter_bytes(out) == {
        ch: b"zeta:[1 2]\nzap:[3]\n" if ch == "z" else b"" for ch in ALPHABET
    }
    write_letter_files(index.limit(0), str(out))
    assert _letter_bytes(out) == {ch: b"" for ch in ALPHABET}


def test_partition_count_invariance(spark, small_corpus):
    """Result is invariant under shuffle partitioning (SURVEY.md §7.1)."""
    base = sorted(
        (r.word, tuple(r.file_ids), r.df) for r in inverted_index(small_corpus).collect()
    )
    for n in (1, 7):
        got = sorted(
            (r.word, tuple(r.file_ids), r.df)
            for r in inverted_index(small_corpus.repartition(n)).collect()
        )
        assert got == base


def test_normalization_corner_cases(spark):
    corpus = spark.createDataFrame(
        [
            (1, "Don't look-out foo123 1842 XIII a x"),
            (2, "  multiple   spaces\tand\ttabs "),
        ],
        "file_id INT, line STRING",
    )
    idx = {r.word: r.file_ids for r in inverted_index(corpus).collect()}
    assert idx["dont"] == [1]
    assert idx["lookout"] == [1]
    assert idx["foo"] == [1]
    assert "1842" not in idx and "" not in idx
    assert idx["xiii"] == [1]
    assert idx["a"] == [1]
    assert idx["x"] == [1]
    assert idx["multiple"] == [2]
    assert idx["tabs"] == [2]
