#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.oracleSql against Verify output.

Mimics the driver's t2 gate: for each query, load the Spark parquet dump
and run the oracle SQL in DuckDB over the same testdata tables, sort
columns by name, and compare row-for-row with exact value equality.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
"""
import json
import sys
from pathlib import Path
from typing import Optional

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> Optional[str]:
    """None when two canon() frames are equal bit for bit, else why not."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    diff_cols = []
    for c in got.columns:
        a, b = got[c], want[c]
        # The driver hashes BIT PATTERNS: compare floats bitwise so
        # +0.0 vs -0.0 (and NaN boxing) fail here like they fail there.
        # Pandas `==` equates ±0.0, which let a signed-zero mismatch
        # ship red two rounds running (r13/r14 q_emb_covariance).
        if str(a.dtype) in ("float64", "float32") and str(a.dtype) == str(b.dtype):
            u = "u8" if str(a.dtype) == "float64" else "u4"
            eq = pd.Series(a.to_numpy().view(u) == b.to_numpy().view(u))
        else:
            eq = (a == b) | (a.isna() & b.isna())
        if not bool(eq.all()):
            idx = int((~eq).idxmax())
            diff_cols.append(f"{c}[row {idx}: {a[idx]!r} != {b[idx]!r}, "
                             f"dtypes {a.dtype}/{b.dtype}]")
    if diff_cols:
        return f"value diffs: {'; '.join(diff_cols[:3])}"
    return None


def main(sf_dir: str, out_dir: str) -> int:
    con = connect(sf_dir)
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())

    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no Spark result dumped")
            n_fail += 1
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM '{res_dir}/*.parquet'").df())
            want = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        diff = frame_diff(got, want)
        if diff:
            print(f"FAIL {name}: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1

    # queries without an oracle: report row counts only
    dumped = {p.name for p in Path(out_dir).iterdir() if p.is_dir()}
    for name in sorted(dumped - set(oracle)):
        try:
            n = len(con.execute(f"SELECT * FROM '{Path(out_dir)/name}/*.parquet'").df())
            print(f"ROWS-ONLY {name}: {n} rows")
        except Exception as e:  # noqa: BLE001
            print(f"ROWS-ONLY {name}: unreadable ({e})")
    print(f"\n{n_pass} pass, {n_fail} fail, {len(dumped - set(oracle))} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
