"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir, compares row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""
from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(oracle_pdf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            # int-on-one-side / float-on-the-other passes a numeric compare
            # but can fail a stringified value-hash ("580" vs "580.0") — the
            # DuckDB sum(BIGINT)→HUGEINT→float64 trap. Flag it as a failure.
            if np.issubdtype(av.dtype, np.integer) or np.issubdtype(bv.dtype, np.integer):
                problems.append(
                    f"col {c}: dtype skew spark={av.dtype} oracle={bv.dtype} "
                    "(cast the oracle aggregate, e.g. CAST(sum(..) AS BIGINT))"
                )
                continue
            av = np.asarray(av, dtype=float)
            bv = np.asarray(bv, dtype=float)
            # The driver hashes EXACT values — any bit difference fails there,
            # so treat non-identical doubles as failures here too (last-ulp
            # divergence after round() is exactly how ev_props_json failed r1
            # while passing a tolerance compare).
            bad = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
            if bad.any():
                i = int(np.argmax(bad))
                worst = float(np.nanmax(np.abs(av - bv)))
                problems.append(
                    f"col {c}: {int(bad.sum())}/{len(av)} exact mismatches "
                    f"(max |delta| {worst:.3e}), first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
        else:
            if not (np.asarray(av) == np.asarray(bv)).all():
                neq = np.asarray(av) != np.asarray(bv)
                i = int(np.argmax(neq))
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    import __spark_entry__ as entry_mod
    from tsgen.session import get_spark

    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    rows_only = []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in osql:
            print(f"—     {name}: no oracle ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            rows_only.append(name)
            continue
        try:
            opdf = con.execute(osql[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            n_fail += 1
            continue
        problems = compare(name, spdf, opdf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"pass  {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
    names = f" ({', '.join(rows_only)})" if rows_only else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {len(rows_only)} rows-only{names}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
