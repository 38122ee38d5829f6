#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]
       python3 tools/check.py <verify_out_dir> --against <other_verify_out_dir>
                              [query ...]

Reads <verify_out_dir>/<name>/ parquet (written by graft.Verify) and
<verify_out_dir>/oracle_sql.json, runs each oracle in DuckDB against
the sf_dir parquet tables, and compares values with columns sorted by
name (and rows sorted for stability). Exit 1 on any mismatch.

With --against, compares each named query's row multiset (every query
either dump holds when none is named) with another Verify dump, e.g.
one made at the parent commit, through the same canonical form. This
covers the rows-only keys, which have no oracle. Exit 1 on any
difference or on a query missing from either dump.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize dtypes to strings for robust comparison
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "NULL" if v is None or
                            (isinstance(v, float) and pd.isna(v)) or
                            (v is pd.NaT) or (pd.api.types.is_scalar(v) and pd.isna(v))
                            else repr(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def against(out_dir: Path, ref_dir: Path, only: set) -> int:
    """Number of queries whose row multisets differ between two dumps."""
    def names(d: Path) -> set:
        return {p.name for p in d.iterdir() if p.is_dir()}
    n_same = n_diff = 0
    for name in sorted(only or (names(out_dir) | names(ref_dir))):
        missing = [d for d in (out_dir, ref_dir) if not (d / name).is_dir()]
        if missing:
            print(f"DIFF  {name}: missing from {missing[0]}")
            n_diff += 1
            continue
        a = canon(pd.read_parquet(out_dir / name))
        b = canon(pd.read_parquet(ref_dir / name))
        if list(a.columns) != list(b.columns):
            print(f"DIFF  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_diff += 1
        elif not a.equals(b):
            print(f"DIFF  {name}: {len(a)} vs {len(b)} rows, multisets differ")
            n_diff += 1
        else:
            print(f"SAME  {name}: {len(a)} rows")
            n_same += 1
    print(f"\n{n_same} same, {n_diff} differ")
    return n_diff


def main():
    if len(sys.argv) > 3 and sys.argv[2] == "--against":
        sys.exit(1 if against(Path(sys.argv[1]), Path(sys.argv[3]),
                              set(sys.argv[4:])) else 0)
    out_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rowsonly = 0
    # union of produced outputs and declared oracles: a query that
    # failed in Verify (its output dir removed) must FAIL here, not
    # silently vanish from the report
    names = sorted({d.name for d in out_dir.iterdir() if d.is_dir()} |
                   set(oracles))
    for name in names:
        if only and name not in only:
            continue
        if not (out_dir / name).is_dir():
            print(f"FAIL  {name}: no Verify output (query failed upstream)")
            n_fail += 1
            continue
        try:
            spark_df = pd.read_parquet(out_dir / name)
        except Exception as e:
            print(f"FAIL  {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ok" if len(spark_df) > 0 else "EMPTY!"
            print(f"ROWS  {name}: {len(spark_df)} rows ({status})")
            n_rowsonly += 1
            if len(spark_df) == 0:
                n_fail += 1
            continue
        try:
            oracle_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(oracle_df)
        if sorted(a.columns) != sorted(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
        elif len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL  {name}: value mismatch, first rows:")
            for i in idx:
                print(f"  spark : {a.loc[i].to_dict()}")
                print(f"  oracle: {b.loc[i].to_dict()}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(a)} rows")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
