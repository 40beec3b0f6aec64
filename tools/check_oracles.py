"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, schema width, and order-insensitive values (columns sorted by
name, rows sorted by all columns). Exit code 1 on any mismatch.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(dv.dtype, np.floating):
            svf = sv.astype(float).to_numpy()
            dvf = dv.astype(float).to_numpy()
            both_nan = np.isnan(svf) & np.isnan(dvf)
            exact = (svf == dvf) | both_nan
            if not exact.all():
                close = np.isclose(svf, dvf, rtol=1e-12, atol=1e-12, equal_nan=True)
                tag = "NEAR (hash would FAIL)" if close.all() else "VALUES"
                idx = int(np.argmin(exact))
                problems.append(f"{tag} col={c} first diff row {idx}: {svf[idx]!r} vs {dvf[idx]!r}")
        else:
            eq = sv.to_numpy() == dv.to_numpy()
            if not np.asarray(eq).all():
                idx = int(np.argmin(eq))
                problems.append(f"VALUES col={c} first diff row {idx}: {sv.iloc[idx]!r} vs {dv.iloc[idx]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from maestro_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if sql is None:
            print(f"rows  {name}: {len(spark_pdf)} rows (rows-only check)")
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows")
    # smoke entry()
    if not only:
        n = entrymod.entry(spark).count()
        print(f"entry(): {n} rows")
        if n <= 0:
            failures += 1
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
