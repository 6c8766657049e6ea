#!/usr/bin/env python3
"""Check that a rewrite of the oracle SQL leaves every oracle result unchanged.

Runs both oracle_sql.json files in DuckDB over the same testdata tables and
compares each key's two results with oracle_check's bitwise comparator
(columns sorted by name, rows in order, floats by bit pattern). Prints one
line per key and exits non-zero on any difference or missing key.

Usage: python3 tools/oracle_equiv.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>
"""
import json
import sys
from pathlib import Path

import duckdb

from oracle_check import canon, connect, frame_diff


def main(sf_dir: str, old_path: str, new_path: str) -> int:
    old = json.loads(Path(old_path).read_text())
    new = json.loads(Path(new_path).read_text())
    con = connect(sf_dir)
    print(f"duckdb {duckdb.__version__}")
    n_same = n_diff = 0
    for name in sorted(old.keys() | new.keys()):
        if name not in old or name not in new:
            print(f"DIFF {name}: only in {'old' if name in old else 'new'}")
            n_diff += 1
            continue
        try:
            a = canon(con.execute(old[name]).df())
            b = canon(con.execute(new[name]).df())
        except Exception as e:  # noqa: BLE001
            print(f"DIFF {name}: {e}")
            n_diff += 1
            continue
        diff = frame_diff(a, b)
        if diff:
            print(f"DIFF {name}: {diff}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(a)} rows)")
            n_same += 1
    print(f"\n{n_same} bitwise-identical, {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
