"""Degenerate-value robustness fixture: sf0.001 with planted NULL /
empty / whitespace / extreme rows.

The empty-input blanket proves every query survives ZERO rows; this
fixture asks the harder question — do the Spark query and its DuckDB
oracle AGREE when individual values are null or degenerate? Both
engines have their own null-propagation and empty-string edge cases
(split of '', explode of NULL, sum over all-NULL, …), so any
disagreement here is a real divergence a 100 TB corpus (which always
contains garbage rows) would hit.

Planted rows (ids far above the real range so goldens are unaffected):
  documents:  NULL text, '' text, whitespace-only text, 1-char text,
              digits/punct-only text (normalizes to zero tokens),
              NULL lang, NULL source, NULL n_chars
  embeddings: NULL embedding, empty array, all-zero vector (norm 0 —
              divides), NULL label
  events:     NULL event_type, NULL value, NULL props, empty-string
              props ('' is not valid JSON), NULL ts; a user whose
              values are ALL NULL (SUM must be NULL, not 0) and a
              valid-JSON row whose k is not an integer (TRY_CAST)

The star-schema tables are copied UNCHANGED: TPC-H columns are NOT
NULL by spec, so planting nulls there would test a contract the
warehouse schema already excludes — the garbage-bearing tables in a
real pipeline are the ingested ones (documents/events/embeddings).

Writes <repo>/.scale/sf0.001-degenerate/*.parquet (gitignored, like
the sf1 decade). Usage: python scripts/gen_degenerate_tables.py
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.001"
OUT = Path(__file__).resolve().parent.parent / ".scale" / "sf0.001-degenerate"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def main(argv: list[str] | None = None) -> None:
    argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    ).parse_args(argv)
    OUT.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        src = f"{SRC}/{t}.parquet"
        dst = str(OUT / f"{t}.parquet")
        if t == "documents":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM '{src}'
                  UNION ALL BY NAME
                  SELECT * FROM (VALUES
                    (900001, NULL,            'en', 'srcX', NULL),
                    (900002, '',              'en', 'srcX', 0),
                    (900003, '   \t  ',       'en', 'srcX', 7),
                    (900004, 'x',             NULL, 'srcX', 1),
                    (900005, '123 456 !!! ,', 'en', NULL,   13)
                  ) AS v(doc_id, text, lang, source, n_chars)
                ) TO '{dst}' (FORMAT PARQUET)
                """
            )
        elif t == "embeddings":
            zeros = "[" + ", ".join(["0.0"] * 64) + "]::FLOAT[]"
            con.execute(
                f"""
                COPY (
                  SELECT * FROM '{src}'
                  UNION ALL BY NAME
                  SELECT * FROM (VALUES
                    (900001, NULL,          1),
                    (900002, []::FLOAT[],   2),
                    (900003, {zeros},       NULL)
                  ) AS v(vec_id, embedding, label)
                ) TO '{dst}' (FORMAT PARQUET)
                """
            )
        elif t == "events":
            con.execute(
                f"""
                COPY (
                  SELECT * FROM '{src}'
                  UNION ALL BY NAME
                  SELECT * FROM (VALUES
                    (900001, TIMESTAMP '2024-01-02 03:04:05', 8, NULL,    1.5,  '{{"k": 1}}'),
                    (900002, TIMESTAMP '2024-01-02 03:04:06', 8, 'click', NULL, '{{"k": 2}}'),
                    (900003, TIMESTAMP '2024-01-02 03:04:07', 8, 'view',  2.5,  NULL),
                    (900004, TIMESTAMP '2024-01-02 03:04:08', 8, 'view',  3.5,  ''),
                    (900005, NULL,                            8, 'click', 4.5,  '{{"k": 3}}'),
                    (900006, TIMESTAMP '2024-01-02 03:05:00', 999, 'click', NULL, '{{"k": "abc"}}'),
                    (900007, TIMESTAMP '2024-01-02 03:05:01', 999, 'view',  NULL, '{{"k": 5}}')
                  ) AS v(event_id, ts, user_id, event_type, value, props)
                ) TO '{dst}' (FORMAT PARQUET)
                """
            )
        else:
            con.execute(f"COPY (SELECT * FROM '{src}') TO '{dst}' (FORMAT PARQUET)")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    sys.exit(main())
