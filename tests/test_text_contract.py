"""The reference word contract in its three dialects (functions/text.py):
the Spark Column forms and the DuckDB oracle forms agree on tokens,
whitespace-token counts, punctuation counts and hash60 — including
the whitespace-class trap (RE2 `\\s` lacks \\x0B; Java `\\s` and C
`isspace` include it) — and no other module writes its own copy."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from apd_map_reduce_spark.functions.text import (
    PUNCT,
    PUNCT_SQL,
    TOKENS_SQL,
    WS_COUNT_SQL,
    hash60,
    hash60_py,
    hash60_sql,
    tokenize_normalized,
    tokenize_normalized_py,
    ws_token_count,
)

TEXTS = [
    "Hello,  world!\tx2\n",
    "",
    "   ",
    "a\xa0b",  # unicode NBSP: not whitespace in any dialect
    "ümlaut café 12three",
    "CRLF\r\nline",
    "tab\tsep\x0bvtab\fff",
    "x\x1cy",
    "a\x0bb",  # \x0B (VT) is whitespace: two tokens
    "a\x0bb!",  # \x0B is not punctuation: one punctuation character
    None,
]


def test_spark_and_duckdb_agree_on_the_word_contract(spark):
    rows = list(enumerate(TEXTS))
    df = spark.createDataFrame(rows, "i LONG, text STRING")
    jvm = {
        r.i: (r.ts, r.n, r.h, r.p)
        for r in df.select(
            "i",
            tokenize_normalized("text").alias("ts"),
            ws_token_count("text").alias("n"),
            hash60(F.col("text")).alias("h"),
            F.regexp_count("text", F.lit(PUNCT)).cast("long").alias("p"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck = {
        i: (ts, n, h, p)
        for i, ts, n, h, p in con.execute(
            f"SELECT i, {TOKENS_SQL}, {WS_COUNT_SQL}, {hash60_sql('text')}, "
            f"len(regexp_extract_all(text, '{PUNCT_SQL}')) FROM documents"
        ).fetchall()
    }
    for i, t in rows:
        assert duck[i] == jvm[i], f"text {t!r}: duckdb {duck[i]} vs spark {jvm[i]}"
        if t is not None:
            assert tokenize_normalized_py(t) == jvm[i][0], f"text {t!r}"
            assert hash60_py(t) == jvm[i][2], f"text {t!r}"
    assert jvm[TEXTS.index("a\x0bb")][:2] == (["a", "b"], 2)
    assert jvm[TEXTS.index("tab\tsep\x0bvtab\fff")][0] == ["tab", "sep", "vtab", "ff"]
    assert jvm[TEXTS.index("a\x0bb!")][3] == 1


# Fragments of a hand-written copy of the tokenizer, of the punctuation
# class or of hash60.
# Compared with all whitespace removed, so a copy wrapped over several
# lines still matches.
_COPY_FRAGMENTS = [
    "regexp_replace(t, '[^A-Za-z]'",
    'F.regexp_replace(t, "[^A-Za-z]"',
    "'0x' || substr(md5(",
    "F.conv(F.substring(F.md5(",
    ".hexdigest()[:15]",
    're.split(r"\\s+"',
    "[^A-Za-z0-9\\",
]


def test_word_contract_has_one_home():
    pkg = Path(__file__).resolve().parents[1] / "apd_map_reduce_spark"
    home = pkg / "functions" / "text.py"
    frags = [re.sub(r"\s+", "", f) for f in _COPY_FRAGMENTS]
    copies = [
        f"{path.relative_to(pkg)}: {frag}"
        for path in sorted(pkg.rglob("*.py"))
        if path != home
        for frag in frags
        if frag in re.sub(r"\s+", "", path.read_text(encoding="utf-8"))
    ]
    assert copies == [], "use functions/text.py instead of a copy: " + "; ".join(copies)
