"""Python UDTF surface (Spark 4 user-defined table functions).

COMPATIBILITY surface, not the performance path: a UDTF evaluates
row-at-a-time in Python (no Arrow batching), so the engine's hot paths
use array expressions / posexplode (see operators/cooccur.py) or
Arrow-batched UDFs instead. The UDTF exists for the cases where a
user genuinely needs per-row Python generator logic with a table
output — and as the lateral-join API demonstration.

`TokenizePositions` is semantics-identical to the JVM path
`posexplode(tokenize_normalized("text"))` (reference P1/P2 rules): both
come from functions/text.py, and tests/test_udtf.py asserts it.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from apd_map_reduce_spark.functions.text import tokenize_normalized_py


@udtf(returnType="word: string, pos: int")
class TokenizePositions:
    """Yield (normalized_word, 1-based position) per P1/P2 rules:
    whitespace split, strip non-ASCII-letters, lowercase, drop empties.
    Positions index the SURVIVING token sequence (same as the array
    path, where filtering precedes position assignment)."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        for pos, w in enumerate(tokenize_normalized_py(text), 1):
            yield w, pos


def register_udtfs(spark) -> None:
    """Register the UDTF for SQL use:
    SELECT t.* FROM docs, LATERAL tokenize_positions(text) t"""
    spark.udtf.register("tokenize_positions", TokenizePositions)
