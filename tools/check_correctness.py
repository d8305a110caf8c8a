"""Local stand-in for the driver's correctness gate: run every queries()
entry at a given sf_dir and compare rows/schema/values against the DuckDB
oracle (order-insensitive, columns sorted by name).

Usage: python tools/check_correctness.py [sf_dir] [--window N] [name_filter...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, str) else v) if df[c].dtype == object else df[c]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def values_equal(a, b) -> bool:
    # SQL NULL surfaces as None (object columns, Spark side) or NaN
    # (DuckDB's pandas conversion) — treat all missing markers as equal
    if _is_missing(a) or _is_missing(b):
        return _is_missing(a) and _is_missing(b)
    return a == b


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"schema mismatch: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rowcount mismatch: spark={len(spark_df)} oracle={len(oracle_df)}"
    a, b = normalize(spark_df), normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [(x, y) for x, y in zip(av, bv) if not values_equal(x, y)]
        if bad:
            return f"value mismatch in column {c}: first diffs {bad[:3]}"
    return None


def main() -> int:
    # --window N: check only the FIRST N registry entries — exactly the
    # driver's per-round correctness gate (it checks the first 50), so
    # `python tools/check_correctness.py --window 50` simulates
    # CORRECTNESS_r{N} in one command.  Parsed ANYWHERE in argv (the r12
    # advice: a leading --window must not be eaten as the positional
    # sf_dir).
    args = sys.argv[1:]
    window = None
    if "--window" in args:
        i = args.index("--window")
        nxt = args[i + 1] if i + 1 < len(args) else None
        if nxt is not None and nxt.lstrip("-").isdigit():
            window = int(nxt)
            del args[i : i + 2]
        else:
            window = 50
            del args[i]
    sf_dir = args.pop(0) if args and not args[0].startswith("--") else "/root/testdata/sf0.01"
    name_filter = args

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from aicoe_osc_demo_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    if window is not None:
        queries = dict(list(queries.items())[:window])
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in queries.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            n_fail += 1
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            n_rowsonly += 1
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            n_fail += 1
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:200]}")
            continue
        err = compare(sdf, odf)
        if err:
            n_fail += 1
            failures.append((name, err))
            print(f"FAIL  {name}: {err[:300]}")
        else:
            n_pass += 1
            print(f"pass  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
