"""Driver-contract parity: every registry query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS gate (row-count + columns + exact
values, order-insensitive) at sf0.001 for speed; run
``python scripts/check_oracle.py`` for the sf0.01 gate.
"""

from __future__ import annotations

import duckdb
import pytest

from apd_map_reduce_spark.registry import ALL_QUERIES
from apd_map_reduce_spark.sources.tables import TABLES
from scripts.check_oracle import check_bounds, compare

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


@pytest.mark.parametrize("qdef", ALL_QUERIES, ids=[q.name for q in ALL_QUERIES])
def test_query_matches_oracle(spark, duck, qdef):
    spark_pdf = qdef.fn(spark, SF_SMOKE).toPandas()
    if qdef.oracle is None:
        assert len(spark_pdf) > 0, f"{qdef.name}: rows-only query returned 0 rows"
        if qdef.bounds is not None:
            bounds_pdf = duck.execute(qdef.bounds).df()
            problems = check_bounds(qdef.name, spark_pdf, bounds_pdf)
            assert not problems, f"{qdef.name} (bounded): {problems}"
        return
    oracle_pdf = duck.execute(qdef.oracle).df()
    problems = compare(qdef.name, spark_pdf, oracle_pdf)
    assert not problems, f"{qdef.name}: {problems}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    oracles = e.oracle_sql()
    assert set(oracles) <= names
    assert len(names) >= 30


def test_approx_percentile_within_accuracy_of_exact(spark):
    """The approx sketch (rows-only in the driver; the envelope is
    ALSO driver-enforced via the sketch_gk_bound_audit companion's
    hash) must land within its rank-accuracy bound of the exact
    discrete percentiles: with accuracy=10000 the GK sketch guarantees
    rank error <= n/10000; on this data that is well under 1% relative
    value error."""
    from apd_map_reduce_spark.queries.relational import (
        approx_percentile_prices,
        percentile_disc_prices,
    )

    approx = {
        r.l_returnflag: (float(r.approx_median), float(r.approx_p99))
        for r in approx_percentile_prices(spark, SF_SMOKE).collect()
    }
    exact = {
        r.l_returnflag: (float(r.median_price), float(r.p99_price))
        for r in percentile_disc_prices(spark, SF_SMOKE).collect()
    }
    assert set(approx) == set(exact)
    for flag, (am, ap) in approx.items():
        em, ep = exact[flag]
        assert abs(am - em) / em < 0.01, f"{flag} median: approx={am} exact={em}"
        assert abs(ap - ep) / ep < 0.01, f"{flag} p99: approx={ap} exact={ep}"


def test_approx_distinct_within_accuracy_of_exact(spark):
    """The HLL sketch (rows-only in the driver; the envelope is ALSO
    driver-enforced via the sketch_hll_bound_audit companion's hash)
    must land within its configured accuracy of the exact distinct
    count: rsd=0.01 means 1% relative standard deviation, so 5%
    (5 sigma) is a deterministic-in-practice bound per group."""
    import pyspark.sql.functions as F

    from apd_map_reduce_spark.queries.relational import approx_distinct_users
    from apd_map_reduce_spark.sources.tables import load_table

    approx = {
        r.event_type: int(r.approx_users)
        for r in approx_distinct_users(spark, SF_SMOKE).collect()
    }
    exact = {
        r.event_type: int(r.n)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, a in approx.items():
        e = exact[etype]
        assert abs(a - e) / e < 0.05, f"{etype}: approx={a} exact={e}"


def test_lsh_ann_topk_k_matches_oracle(spark, duck):
    """`k` reaches the LSH ANN oracle's rank cut: at k=5 both engines
    return the same per-bucket top-5, not a top-3."""
    from apd_map_reduce_spark.operators.similarity import _emb, _lsh_oracle, lsh_ann_topk

    spark_pdf = lsh_ann_topk(_emb(spark, SF_SMOKE), k=5).toPandas()
    oracle_pdf = duck.execute(_lsh_oracle(k=5)).df()
    assert (spark_pdf["rnk"] > 3).any(), "fixture has no bucket deep enough to tell k=5 from k=3"
    problems = compare("ann_lsh_topk_k5", spark_pdf, oracle_pdf)
    assert not problems, f"ann_lsh_topk k=5: {problems}"
