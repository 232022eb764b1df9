#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool only — the
engine itself is pure Scala/Spark).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: load the Spark parquet result and
run the oracle SQL in DuckDB over views named after the parquet tables,
sort columns by name and rows by value, then compare cell-by-cell.
"""
import json
import math
import sys

import duckdb

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        import pandas as pd
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b or str(a) == str(b)

def decimal_cols(describe_sql):
    """Columns whose type is DECIMAL or HUGEINT — banned at the boundary.

    DECIMAL: the driver hashes Spark parquet decimals with their scale
    ("5.30") but oracle-side floats as "5.3", so trailing-zero values
    mismatch even when equal. HUGEINT: DuckDB window `sum` over INTEGER
    yields INT128, which the driver's typed rendering hashes differently
    from Spark's BIGINT (the tx_cdc_chunk r05 failure). fetchdf()
    coerces both to numpy types, which is why cell comparison alone
    can't catch either.
    """
    rows = con.execute(describe_sql).fetchall()
    return [r[0] for r in rows
            if r[1].upper().startswith("DECIMAL")
            or r[1].upper() == "HUGEINT"]

n_pass = n_fail = 0
for name, sql in sorted(oracle.items()):
    try:
        bad_dec = decimal_cols(
            f"DESCRIBE SELECT * FROM '{OUT}/{name}/*.parquet'")
        bad_dec += [c for c in decimal_cols(f"DESCRIBE {sql}")
                    if c not in bad_dec]
        spark_df = canon(con.execute(
            f"SELECT * FROM '{OUT}/{name}/*.parquet'").fetchdf())
        duck_df = canon(con.execute(sql).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: load error: {e}", flush=True)
        n_fail += 1
        continue
    if bad_dec:
        print(f"FAIL {name}: DECIMAL/HUGEINT at query boundary (cast to "
              f"DOUBLE/BIGINT in query + oracle): {bad_dec}", flush=True)
        n_fail += 1
        continue
    if list(spark_df.columns) != list(duck_df.columns):
        print(f"FAIL {name}: columns spark={list(spark_df.columns)} "
              f"duck={list(duck_df.columns)}", flush=True)
        n_fail += 1
        continue
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}",
              flush=True)
        n_fail += 1
        continue
    bad = None
    for c in spark_df.columns:
        sa, da = spark_df[c].tolist(), duck_df[c].tolist()
        for i, (x, y) in enumerate(zip(sa, da)):
            if not cells_equal(x, y):
                bad = (c, i, x, y)
                break
        if bad:
            break
    if bad:
        c, i, x, y = bad
        print(f"FAIL {name}: col={c} row={i} spark={x!r} ({type(x).__name__}) "
              f"duck={y!r} ({type(y).__name__})", flush=True)
        n_fail += 1
    else:
        print(f"PASS {name} ({len(spark_df)} rows)", flush=True)
        n_pass += 1

print(f"\n{n_pass} passed, {n_fail} failed")
sys.exit(1 if n_fail else 0)
