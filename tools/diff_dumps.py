#!/usr/bin/env python3
"""Compares the dumps of two graft.Verify output dirs row by row, in order.

    python3 tools/diff_dumps.py <dirA> <dirB>

A dump is a subdirectory of parquet part files. Each dump's rows are read
in file-name then file-row order, the order tools/check_correctness.py
reads them in, and compared column by column: NaN equals NaN, arrays
compare element-wise. Parquet file bytes are not compared, since they
differ between two runs of one binary. Prints one line per differing dump
and exits 1 if any dump differs or exists in only one dir.
"""
import glob
import math
import os
import sys

import duckdb
import pandas as pd


def dumps(root: str) -> dict:
    return {os.path.basename(d.rstrip("/")): d for d in glob.glob(f"{root}/*/")}


def load(con, qdir: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{qdir}/*.parquet"))
    if not files:
        return pd.DataFrame()
    return con.execute(
        "SELECT * EXCLUDE (filename, file_row_number) FROM "
        "read_parquet(?, filename = true, file_row_number = true) "
        "ORDER BY filename, file_row_number", [files]).df()


def canon(x):
    """A hashable, NaN-stable form of one cell."""
    if hasattr(x, "tolist"):
        x = x.tolist()
    if isinstance(x, (list, tuple)):
        return tuple(canon(v) for v in x)
    if isinstance(x, dict):
        return tuple((k, canon(v)) for k, v in x.items())
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    if x is None or x is pd.NA or x is pd.NaT:
        return None
    return x


def first_difference(a: pd.DataFrame, b: pd.DataFrame):
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col], b[col])):
            if canon(x) != canon(y):
                return f"col={col} row={i}: {x!r} vs {y!r}"
    return None


def main(dir_a: str, dir_b: str) -> int:
    con = duckdb.connect()
    a, b = dumps(dir_a), dumps(dir_b)
    differing = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name:28s} ONLY-IN {dir_a if name in a else dir_b}")
            differing += 1
            continue
        diff = first_difference(load(con, a[name]), load(con, b[name]))
        if diff:
            print(f"{name:28s} DIFFERS {diff}")
            differing += 1
    print(f"{len(set(a) | set(b))} dumps compared, {differing} differing")
    return 1 if differing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
