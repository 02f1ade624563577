#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py VERIFY_OUT SF_DIR [--against PARENT_OUT]

Reads each <name>/ parquet result written by graft.Verify plus
oracle_sql.json, runs each oracle in DuckDB with every testdata table
registered as a view, canonicalizes both sides (columns sorted by
name, rows sorted by all columns), and reports match/mismatch.

--against PARENT_OUT also compares every result with the same-named
result of another Verify run (typically the parent commit's) through
the same canon/compare, including the rows-only queries the oracle
cannot check, and lists each name whose result differs or exists on
one side only. A refactor that must not change results should show
none. Exit status is non-zero when either check finds a difference.
Dev tool only — not part of the library.
"""
import argparse
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b):
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if a != a and b != b:  # NaN-ish (pandas NaT etc.)
            return True
    except Exception:
        pass
    return a == b


def compare(name, spark_df, oracle_df, sides=("spark", "oracle")):
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"COLUMN MISMATCH {sides[0]}={sorted(spark_df.columns)} {sides[1]}={sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"ROWCOUNT MISMATCH {sides[0]}={len(spark_df)} {sides[1]}={len(oracle_df)}"
    a, b = canon(spark_df), canon(oracle_df)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            sx = x.isoformat() if hasattr(x, "isoformat") else x
            sy = y.isoformat() if hasattr(y, "isoformat") else y
            if not values_equal(sx, sy):
                return f"VALUE MISMATCH col={col} row={i}: {sides[0]}={x!r} {sides[1]}={y!r}"
    return None


def read_results(con, out_dir):
    """name -> DataFrame of each Verify result, or an error string."""
    errors_path = out_dir / "_errors.json"
    verify_errors = json.loads(errors_path.read_text()) if errors_path.exists() else {}
    results = {}
    for name in sorted(p.name for p in out_dir.iterdir() if p.is_dir()):
        if name in verify_errors:
            results[name] = f"SPARK QUERY FAILED: {verify_errors[name]}"
            continue
        try:
            results[name] = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            results[name] = f"SPARK READ FAILED: {e}"
    return results


def diff_against(con, out_dir, parent_dir):
    """Names whose result differs from the parent run's, with why."""
    ours, theirs = read_results(con, out_dir), read_results(con, parent_dir)

    def status(r):
        return r if isinstance(r, str) else "ok"

    diffs = {}
    for name in sorted(set(ours) | set(theirs)):
        if name not in theirs:
            diffs[name] = "only in this run"
        elif name not in ours:
            diffs[name] = "only in the parent run"
        else:
            a, b = ours[name], theirs[name]
            if isinstance(a, str) or isinstance(b, str):
                err = None if status(a) == status(b) else \
                    f"this run: {status(a)}; parent: {status(b)}"
            else:
                err = compare(name, a, b, sides=("this", "parent"))
            if err:
                diffs[name] = err
    return diffs, len(set(ours) | set(theirs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir", help="the graft.Verify output dir")
    ap.add_argument("sf_dir", help="the testdata dir Verify read")
    ap.add_argument("--against", metavar="PARENT_OUT",
                    help="another Verify output dir to compare every result with")
    args = ap.parse_args()
    out_dir, sf_dir = Path(args.out_dir), Path(args.sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle_sql = json.loads((out_dir / "oracle_sql.json").read_text())

    results = {}
    for name, spark_df in read_results(con, out_dir).items():
        if isinstance(spark_df, str):
            results[name] = spark_df
            continue
        if name not in oracle_sql:
            results[name] = f"rows-only ({len(spark_df)} rows)"
            continue
        try:
            oracle_df = con.sql(oracle_sql[name]).df()
        except Exception as e:
            results[name] = f"ORACLE SQL FAILED: {e}"
            continue
        err = compare(name, spark_df, oracle_df)
        results[name] = err if err else f"OK ({len(spark_df)} rows)"

    missing = set(oracle_sql) - set(results)
    for m in missing:
        results[m] = "NO SPARK OUTPUT (query failed in Verify?)"
    width = max(len(n) for n in results)
    n_bad = 0
    for name in sorted(results):
        status = results[name]
        bad = not (status.startswith("OK") or status.startswith("rows-only"))
        n_bad += bad
        print(f"{'FAIL' if bad else 'ok  '} {name:<{width}} {status}")
    print(f"\n{len(results) - n_bad}/{len(results)} passing")
    if args.against:
        diffs, total = diff_against(con, out_dir, Path(args.against))
        for name, why in diffs.items():
            print(f"DIFF {name:<{width}} {why}")
        print(f"\n{total - len(diffs)}/{total} identical to {args.against}")
        n_bad += len(diffs)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
