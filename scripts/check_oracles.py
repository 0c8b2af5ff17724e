"""Mirror of the driver's correctness gate: run each ``queries()`` entry
on Spark and its ``oracle_sql()`` on DuckDB at sf0.01 (or a given dir),
compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    def keyfn(row):
        return tuple("" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v) for v in row)
    df = df.sort_values(by=list(df.columns), key=lambda s: s.map(lambda v: "" if v is None else str(v))).reset_index(drop=True)
    return df


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if sorted(map(str.lower, a.columns)) != sorted(map(str.lower, b.columns)):
        return f"schema mismatch: {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    ca, cb = canon(a), canon(b)
    for col in ca.columns:
        va, vb = ca[col], cb[col]
        if pd.api.types.is_float_dtype(va) or pd.api.types.is_float_dtype(vb):
            va = pd.to_numeric(va, errors="coerce")
            vb = pd.to_numeric(vb, errors="coerce")
            bad = (~((va - vb).abs() < 1e-6)) & ~(va.isna() & vb.isna())
        else:
            bad = va.astype(str).fillna("") != vb.astype(str).fillna("")
        if bad.any():
            i = bad.idxmax()
            return f"value mismatch col={col} row={i}: spark={ca[col][i]!r} duck={cb[col][i]!r}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Bind the kg mirror oracles to the SAME sf dir the Spark side reads;
    # without this, running at sf0.001 compares Spark-on-sf0.001 against
    # mirror-on-sf0.01 (oracle_sql() defaults SPARK_GRAFT_ORACLE_SF to
    # sf0.01, matching the driver) and kg_extractions/groups/spo mismatch.
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", sf_dir)

    import __spark_entry__ as entrymod
    from openie_backend_spark.session import get_spark

    spark = get_spark(parallelism=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # extras = analog demos outside the driver's 50-row window; they
    # keep their oracles and stay locally verified here
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = entrymod.oracle_sql()
    passed = failed = rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:200]}")
            failed += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) [no oracle]")
            rowsonly += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            failed += 1
            continue
        err = compare(sdf, ddf)
        if err:
            print(f"FAIL  {name}: {err} ({time.time()-t0:.1f}s)")
            failed += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} ok, {failed} fail, {rowsonly} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
