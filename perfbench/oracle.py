"""Expected outputs and output checks, kept apart from the program.

Each check runs outside every timed interval. A check returns a list of
problems; an empty list means the output is correct.

* invindex_cli   — the 26 letter files, byte for byte, against a plain
  Python rendering of the reference format over the same corpus.
* clean_snapshot — the written snapshot's doc_ids against the registry
  oracle ``_clean_corpus_oracle()`` run in DuckDB.
"""

from __future__ import annotations

import re
from collections import defaultdict
from pathlib import Path

ALPHABET = "abcdefghijklmnopqrstuvwxyz"
_NON_ALPHA = re.compile(r"[^A-Za-z]")


# --- invindex_cli -------------------------------------------------------------

def letter_files(manifest: Path) -> dict[str, bytes]:
    """The reference sink for `manifest`: per letter, one line
    `word:[id1 id2 ...]` per word, ordered df DESC then word ASC; ids are
    1-based manifest positions in ascending order."""
    lines = [ln.strip() for ln in manifest.read_text(encoding="utf-8").splitlines()]
    lines = [ln for ln in lines if ln]
    postings: dict[str, set[int]] = defaultdict(set)
    for file_id, rel in enumerate(lines[1 : int(lines[0]) + 1], start=1):
        text = (manifest.parent / rel).read_text(encoding="utf-8")
        for tok in text.split():
            word = _NON_ALPHA.sub("", tok).lower()
            if word:
                postings[word].add(file_id)
    by_letter: dict[str, list[tuple[int, str, str]]] = defaultdict(list)
    for word, ids in postings.items():
        ids_txt = " ".join(map(str, sorted(ids)))
        by_letter[word[0]].append((-len(ids), word, f"{word}:[{ids_txt}]\n"))
    return {
        ch: "".join(row[2] for row in sorted(by_letter.get(ch, []))).encode()
        for ch in ALPHABET
    }


def write_letter_files(expected: dict[str, bytes], out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for ch, data in expected.items():
        (out / f"{ch}.txt").write_bytes(data)


def check_letter_files(out: Path, expected: Path) -> list[str]:
    problems = []
    for ch in ALPHABET:
        got = out / f"{ch}.txt"
        if not got.is_file():
            problems.append(f"{ch}.txt missing")
        elif got.read_bytes() != (expected / f"{ch}.txt").read_bytes():
            problems.append(f"{ch}.txt differs")
    return problems


# --- clean_snapshot -------------------------------------------------------------

def clean_doc_ids(documents: Path) -> list[int]:
    """doc_ids the clean-corpus oracle keeps, ascending."""
    import duckdb

    from apd_map_reduce_spark.operators.pipeline import _clean_corpus_oracle

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        rows = con.execute(
            f"SELECT doc_id FROM ({_clean_corpus_oracle()}) ORDER BY doc_id"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


def check_snapshot(snapshot: Path, expected: list[int], returned: int) -> list[str]:
    import pyarrow.parquet as pq

    problems = []
    if returned != len(expected):
        problems.append(f"returned count {returned}, expected {len(expected)}")
    got = sorted(pq.read_table(snapshot, columns=["doc_id"]).column("doc_id").to_pylist())
    if got != expected:
        missing = sorted(set(expected) - set(got))[:5]
        extra = sorted(set(got) - set(expected))[:5]
        problems.append(
            f"doc_ids: {len(got)} written, {len(expected)} expected, "
            f"missing {missing}, extra {extra}"
        )
    return problems
