"""Grouped-map pandas operator (`applyInPandas`): per-user behavioral
features over the event history — the per-group imperative shape that
DataFrame algebra can't express cleanly when the per-group logic grows
(here it is deliberately simple enough to ALSO be SQL-expressible, so
the operator keeps a DuckDB oracle; a real feature pipeline swaps the
body for arbitrary Python).

Scale: groups hash-shuffle by user_id; each Arrow batch holds whole
groups — state is bounded by the largest single user's history.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

OUTPUT_SCHEMA = (
    "user_id LONG, n_events LONG, n_types LONG, "
    "mean_gap_us DOUBLE, max_gap_us LONG, total_value DOUBLE"
)


def _features(pdf: pd.DataFrame) -> pd.DataFrame:
    # NaT sorts last (pandas default), matching the oracle's NULLS
    # LAST; masking NaT to NaN makes its gaps NULL on both sides
    # instead of int64-garbage (astype('int64') on NaT) — gaps are
    # < 2^53 µs so the float64 detour is exact.
    pdf = pdf.sort_values(["ts", "event_id"])
    ts = pd.to_datetime(pdf["ts"])
    ts_us = (ts.astype("int64") // 1000).where(ts.notna())
    gaps = ts_us.diff().dropna()
    # value summed via exact cents (int64) — float summation order in
    # pandas is not cross-engine stable, integers are. Cents via
    # floor(x*100 + 0.5): pandas .round() is half-to-EVEN while DuckDB
    # ROUND() is half-away — a value landing exactly on .5 cents would
    # split the engines; floor(+0.5) is the same function on both sides.
    # NULL values drop out, like the oracle's SUM — including the
    # all-NULL group, where SUM is NULL, not 0.
    vals = pdf["value"].dropna()
    total_cents = (
        int(np.floor(vals * 100 + 0.5).astype("int64").sum())
        if len(vals)
        else None
    )
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_events": [len(pdf)],
            "n_types": [pdf["event_type"].nunique()],
            "mean_gap_us": [float(gaps.sum()) / len(gaps) if len(gaps) else None],
            "max_gap_us": [int(gaps.max()) if len(gaps) else None],
            "total_value": [
                total_cents / 100.0 if total_cents is not None else None
            ],
        }
    )


def user_behavior_features(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandas(_features, OUTPUT_SCHEMA)
    )


def fingerprint_pandas(docs: DataFrame) -> DataFrame:
    """Scalar @pandas_udf flavor: the reference P1/P2 normalization
    run in the Python worker (`tokenize_normalized_py`), fingerprinted like
    textstats.doc_fingerprint. Dogfooding: its oracle is the SAME SQL
    as the JVM-expression fingerprint, so the Python and JVM
    normalization paths are proven equivalent by the gate."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from apd_map_reduce_spark.functions.text import tokenize_normalized_py

    @pandas_udf("string")
    def _norm(text: pd.Series) -> pd.Series:
        # NULL text → NULL fingerprint (the JVM twin's md5(NULL)); a
        # plain .map would crash the tokenizer on None.
        return text.map(
            lambda t: " ".join(tokenize_normalized_py(t)), na_action="ignore"
        )

    normalized = _norm(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).cast("long").alias("norm_len"),
    )


def segment_weighted_avg(orders: DataFrame, customers: DataFrame) -> DataFrame:
    """Grouped-agg @pandas_udf flavor: exact-cents weighted statistic
    per market segment (weights = order count per customer is implicit;
    here: plain mean of totals via integer cents so pandas float
    summation order can't drift from the oracle)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _mean_cents(v: pd.Series) -> float:
        # floor(x*100 + 0.5), not .round(): see _features on half-to-even.
        cents = np.floor(v * 100 + 0.5).astype("int64")
        return float(int(cents.sum())) / 100.0 / len(cents)

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg() — the count is a second pandas UDF.
    @pandas_udf("long")
    def _count(v: pd.Series) -> int:
        return len(v)

    joined = orders.join(
        F.broadcast(customers.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.round(_mean_cents("o_totalprice"), 6).alias("avg_totalprice"),
        _count("o_totalprice").alias("n_orders"),
    )


SEGMENT_AVG_ORACLE = """
SELECT c_mktsegment,
       ROUND(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             / COUNT(*), 6) AS avg_totalprice,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


BEHAVIOR_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT e.user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.event_type) AS n_types,
       (SELECT CAST(SUM(gap) AS DOUBLE) / COUNT(gap) FROM g
         WHERE g.user_id = e.user_id AND gap IS NOT NULL) AS mean_gap_us,
       (SELECT MAX(gap) FROM g WHERE g.user_id = e.user_id) AS max_gap_us,
       CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events e
GROUP BY e.user_id
"""
