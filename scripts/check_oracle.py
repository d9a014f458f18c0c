"""Local replica of the driver's correctness gate.

Runs each registered query on Spark and its DuckDB oracle at sf0.01,
compares row count, sorted-by-name schema, and a value hash computed the
same way the driver does (columns sorted by name, rows sorted, values
rounded).  Usage:

    python scripts/check_oracle.py [query ...]

With no args, checks every query that has an oracle.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
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


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            import datetime as _dt

            head = df[c].dropna()
            if len(head) and isinstance(head.iloc[0], _dt.date) and not isinstance(
                head.iloc[0], _dt.datetime
            ):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    wanted = sys.argv[1:] or [k for k in qs if k in oracles]

    from polars_trading_spark.session import get_spark

    spark = get_spark("check-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = []
    for name in wanted:
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows-only)")
            continue
        sdf = qs[name](spark, SF_DIR).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        rows_ok = len(sdf) == len(odf)
        schema_ok = sorted(sdf.columns) == sorted(odf.columns)
        hash_ok = False
        if rows_ok and schema_ok:
            a, b = norm(sdf), norm(odf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-5, atol=1e-7)
                hash_ok = True
            except AssertionError as e:
                hash_ok = False
                print(f"  diff: {str(e).splitlines()[-1][:200]}")
        status = "PASS" if (rows_ok and schema_ok and hash_ok) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{name}: {status} (spark={len(sdf)} oracle={len(odf)} "
            f"schema={'ok' if schema_ok else sorted(sdf.columns)!r} vs {sorted(odf.columns)!r})"
        )
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
