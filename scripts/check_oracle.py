"""Driver-style correctness gate, runnable locally.

For every registry query: run the Spark DataFrame AND the DuckDB oracle
on the same sf dir, then compare row count, column names, and
order-insensitive values (exact — the driver hashes values, so a 1-ulp
float drift is a FAIL; near-miss diagnostics are printed to debug).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Set CHECK_ORACLE_JSON=<path> to also dump a machine-readable summary
(one record per query: status, rows, timings), so the full-registry
result is auditable even when an external harness samples a subset
(past rounds' dumps: records/SELFCHECK_r*.json).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from apd_map_reduce_spark.registry import ALL_QUERIES  # noqa: E402
from apd_map_reduce_spark.session import get_spark  # noqa: E402
from apd_map_reduce_spark.sources.tables import TABLES  # noqa: E402


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(f"schema: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
        return problems
    s = canonical(spark_df)
    o = canonical(oracle_df)
    for col in s.columns:
        sd, od = str(s[col].dtype), str(o[col].dtype)
        if sd != od:
            problems.append(f"dtype {col}: spark={sd} oracle={od}")
    for col in s.columns:
        sv, ov = s[col], o[col]
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype("float64")
            ov = ov.astype("float64")
            both_nan = sv.isna() & ov.isna()
            eq = (sv == ov) | both_nan
            if not eq.all():
                diffs = (sv - ov).abs()
                problems.append(
                    f"col {col}: {int((~eq).sum())}/{len(eq)} mismatched, max|Δ|={diffs.max():.3e}"
                )
        else:
            sv = sv.astype(object).where(~sv.isna(), None)
            ov = ov.astype(object).where(~ov.isna(), None)
            eq = sv.map(str) == ov.map(str)
            na_eq = pd.isna(s[col]) & pd.isna(o[col])
            eq = eq | na_eq
            if not eq.all():
                idx = eq[~eq].index[:3]
                examples = [(s[col][i], o[col][i]) for i in idx]
                problems.append(f"col {col}: {int((~eq).sum())}/{len(eq)} mismatched, e.g. {examples}")
    return problems


def check_bounds(name: str, spark_pdf: pd.DataFrame, bounds_pdf: pd.DataFrame) -> list[str]:
    """Bounded-error oracle for sketch queries (QueryDef.bounds): the
    bounds relation carries key columns plus `lo_<col>`/`hi_<col>` per
    approximate column; assert a 1:1 key match and lo <= value <= hi."""
    problems: list[str] = []
    bound_cols = [c for c in bounds_pdf.columns if c.startswith(("lo_", "hi_"))]
    keys = [c for c in bounds_pdf.columns if c not in bound_cols]
    approx_cols = sorted({c[3:] for c in bound_cols})
    missing = [c for c in keys + approx_cols if c not in spark_pdf.columns]
    if missing:
        return [f"result lacks columns {missing} (has {sorted(spark_pdf.columns)})"]
    for c in approx_cols:
        if f"lo_{c}" not in bounds_pdf.columns or f"hi_{c}" not in bounds_pdf.columns:
            return [f"bounds SQL lacks lo_{c}/hi_{c}"]
    if len(spark_pdf) != len(bounds_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} bounds={len(bounds_pdf)}")
        return problems
    merged = spark_pdf.merge(bounds_pdf, on=keys, how="inner", validate="1:1")
    if len(merged) != len(spark_pdf):
        problems.append(
            f"key mismatch: {len(spark_pdf)} result rows, {len(merged)} joined"
        )
        return problems
    for c in approx_cols:
        v = merged[c].astype("float64")
        lo = merged[f"lo_{c}"].astype("float64")
        hi = merged[f"hi_{c}"].astype("float64")
        bad = ~((v >= lo) & (v <= hi))
        if bad.any():
            i = bad[bad].index[0]
            problems.append(
                f"col {c}: {int(bad.sum())}/{len(bad)} outside bound, e.g. "
                f"key={merged.loc[i, keys].to_dict()} value={v[i]} "
                f"bound=[{lo[i]}, {hi[i]}]"
            )
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        # A table may be a single file OR a part-file directory (the
        # chunked scale fixtures, gen_scale_tables.py CHUNK_COPIES);
        # Spark reads both through the same path, DuckDB needs a glob.
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    n_fail = 0
    records: list[dict] = []
    for q in ALL_QUERIES:
        if only and q.name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = q.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {q.name}: spark error: {exc}")
            records.append({"query": q.name, "status": "error", "error": str(exc)[:300]})
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if q.oracle is None:
            if q.bounds is not None:
                t0 = time.time()
                bounds_pdf = con.execute(q.bounds).df()
                t_oracle = time.time() - t0
                problems = check_bounds(q.name, spark_pdf, bounds_pdf)
                if problems:
                    n_fail += 1
                    print(f"FAIL  {q.name}: bounded-error check ({t_spark:.1f}s)")
                    for p in problems:
                        print(f"      {p}")
                    records.append(
                        {"query": q.name, "status": "bounds_fail",
                         "problems": problems[:5]}
                    )
                else:
                    print(
                        f"PASS  {q.name}: bounded-error check, {len(spark_pdf)} rows"
                        f" ({t_spark:.1f}s spark / {t_oracle:.1f}s duckdb)"
                    )
                    records.append(
                        {"query": q.name, "status": "bounded_pass",
                         "rows": len(spark_pdf), "t_spark_s": round(t_spark, 2),
                         "t_oracle_s": round(t_oracle, 2)}
                    )
                continue
            print(f"ok?   {q.name}: rows-only check, {len(spark_pdf)} rows ({t_spark:.1f}s)")
            if len(spark_pdf) == 0:
                print(f"      WARNING: zero rows from {q.name}")
            records.append(
                {"query": q.name, "status": "rows_only", "rows": len(spark_pdf),
                 "t_spark_s": round(t_spark, 2)}
            )
            continue
        t0 = time.time()
        try:
            oracle_pdf = con.execute(q.oracle).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {q.name}: oracle error: {exc}")
            records.append({"query": q.name, "status": "error", "error": str(exc)[:300]})
            n_fail += 1
            continue
        t_oracle = time.time() - t0
        problems = compare(q.name, spark_pdf, oracle_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL  {q.name} ({t_spark:.1f}s spark / {t_oracle:.1f}s duckdb)")
            for p in problems:
                print(f"      {p}")
        else:
            note = " (0 rows!)" if len(spark_pdf) == 0 else ""
            print(f"PASS  {q.name}: {len(spark_pdf)} rows{note} ({t_spark:.1f}s spark / {t_oracle:.1f}s duckdb)")
        records.append(
            {"query": q.name, "status": "fail" if problems else "pass",
             "rows": len(spark_pdf), "t_spark_s": round(t_spark, 2),
             "t_duckdb_s": round(t_oracle, 2),
             **({"problems": problems} if problems else {})}
        )
    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")

    json_path = os.environ.get("CHECK_ORACLE_JSON")
    if json_path:
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(records),
            "n_pass": sum(1 for r in records if r["status"] == "pass"),
            "n_rows_only": sum(1 for r in records if r["status"] == "rows_only"),
            "n_fail": n_fail,
            "queries": records,
        }
        Path(json_path).write_text(json.dumps(summary, indent=1))
        print(f"wrote {json_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
