"""Scalar text functions (reference P1-P5, SURVEY.md §2.2) — the one
home of the reference word contract and of the 60-bit md5 hash.

The reference's entire scalar surface is word normalization
(`tema1a/src/main.cpp:31-39`: strip non-alphabetic bytes, lowercase,
ASCII-only under the default C locale) plus trivial filters. The repo
speaks it in three dialects, each defined here once:

  contract            Spark Column            DuckDB SQL     Python
  normalized tokens   tokenize_normalized     TOKENS_SQL     tokenize_normalized_py
  whitespace tokens   ws_token_count          WS_COUNT_SQL   —
  punctuation class   PUNCT                   PUNCT_SQL      —
  60-bit md5 hash     hash60                  hash60_sql     hash60_py

The Spark forms are JVM-side Column expressions inside whole-stage
codegen — no Python UDFs. The SQL forms are what every DuckDB oracle
interpolates; the Python forms serve UDTF/pandas twins and driver-side
constants.

Semantics pinned by the goldens (SURVEY.md §5.2):
  * Whitespace is C `isspace` in the C locale (`operator>>`), which is
    Java's `\\s`: exactly [ \\t\\n\\x0B\\f\\r]. RE2's `\\s` (DuckDB)
    lacks \\x0B and Python's str `\\s` is unicode-aware (NBSP, \\x1c-\\x1f
    …), so the SQL and Python twins spell the class out.
  * ASCII classes only (`[^A-Za-z]`), NOT ``\\p{L}`` — multibyte UTF-8
    characters are deleted, not transliterated.
  * ``Don't`` → ``dont``, ``look-out`` → ``lookout``, ``foo123`` → ``foo``,
    bare digits → dropped (empty after strip), single letters kept.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII-anchored on purpose; see module docstring.
NON_ALPHA = "[^A-Za-z]"
WHITESPACE = "\\s+"  # Java regex: \s is already the ASCII isspace class
WHITESPACE_SQL = "[ \\t\\n\\v\\f\\r]+"  # RE2 spelling of the same class
JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")  # Python spelling of the same class
# One punctuation character: not ASCII alphanumeric, not whitespace.
PUNCT = "[^A-Za-z0-9\\s]"  # Java regex
PUNCT_SQL = "[^A-Za-z0-9 \\t\\n\\v\\f\\r]"  # RE2 spelling of the same class
_NON_ALPHA_RE = re.compile(NON_ALPHA)


def null_safe_size(arr: Column) -> Column:
    """`size()` with NULL-in → NULL-out.

    Non-ANSI Spark returns -1 for `size(NULL)`; every DuckDB oracle's
    `len()` propagates NULL instead, so a NULL-text document would
    contribute -1 to one engine's token totals and nothing to the
    other's (DETERMINISM.md rule 35). Use this for any size() whose
    input array can be NULL (e.g. tokenizations of a nullable text
    column)."""
    return F.when(arr.isNotNull(), F.size(arr))


def normalize_word(col: Column | str) -> Column:
    """P1 — `lower(regexp_replace(token, '[^A-Za-z]', ''))`.

    Matches `main.cpp:31-39` (isalpha/tolower loop) byte-for-byte on
    ASCII input; strips (does not transliterate) everything else.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, NON_ALPHA, ""))


def tokenize(col: Column | str) -> Column:
    """S2 tokenization — split on whitespace runs (C++ `operator>>`).

    Returns an array column; empty strings (from leading whitespace)
    remain and must be filtered after normalization (P2).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, WHITESPACE)


def tokenize_normalized(col: Column | str) -> Column:
    """Tokenize then normalize each element, dropping empties (P1+P2).

    All-JVM: split → transform(lower∘regexp_replace) → filter.
    """
    return F.filter(F.transform(tokenize(col), normalize_word), lambda w: w != "")


def ws_token_count(col: Column | str) -> Column:
    """Whitespace-token count of the trimmed text as a long (NULL text →
    NULL). Counts raw tokens, before normalization drops any."""
    c = F.col(col) if isinstance(col, str) else col
    return null_safe_size(F.split(F.trim(c), WHITESPACE)).cast("long")


def hash60(col: Column) -> Column:
    """First 15 hex chars of md5 → bigint (60 bits, always positive)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# --- DuckDB twins (oracle SQL over a `text` column) ------------------------

TOKENS_SQL = (
    f"list_filter(list_transform(string_split_regex(text, '{WHITESPACE_SQL}'), "
    "t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), w -> w <> '')"
)
WS_COUNT_SQL = f"len(string_split_regex(trim(text), '{WHITESPACE_SQL}'))"


def hash60_sql(expr: str) -> str:
    """`hash60` as DuckDB SQL over the string expression `expr`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# --- Python twins ------------------------------------------------------------

def tokenize_normalized_py(text: str) -> list[str]:
    """`tokenize_normalized` for one Python string — pinned by tests to
    the JVM expression token-for-token."""
    out = []
    for raw in JAVA_WS.split(text):
        w = _NON_ALPHA_RE.sub("", raw).lower()
        if w:
            out.append(w)
    return out


def hash60_py(s: str) -> int:
    """`hash60` of one Python string (md5 over its UTF-8 bytes)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
