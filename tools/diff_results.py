#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Usage:  python3 tools/diff_results.py VOUT_A VOUT_B

Each query's result (VOUT/<name>/*.parquet) is read in DuckDB as a
multiset of rows; columns are matched by name, and both the column
types and the values must match exactly (NULL matches NULL). Every
query that is missing on one side or differs is named; the exit code
is 1 if any is, else 0. Typical use: run `graft.Verify` on a clone of
the parent commit and on the change, then diff the two dirs.
"""
import collections
import glob
import os
import sys

import duckdb


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def relation(con, out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return con.read_parquet(files)


def differs(con, a, b):
    """None when the two relations hold the same multiset of rows,
    else a one-line reason."""
    if a is None or b is None:
        return None if a is None and b is None else "one side has no parquet files"
    ta = dict(zip(a.columns, map(str, a.types)))
    tb = dict(zip(b.columns, map(str, b.types)))
    if ta != tb:
        return f"columns {sorted(ta.items())} != {sorted(tb.items())}"
    cols = ", ".join(f'"{c}"' for c in sorted(ta))
    a, b = a.select(cols), b.select(cols)
    try:
        # EXCEPT ALL is the multiset difference (the relational
        # except_ is a set difference, blind to repeated rows)
        con.register("__a", a)
        con.register("__b", b)
        only_a = con.sql("SELECT count(*) FROM (FROM __a EXCEPT ALL FROM __b)").fetchone()[0]
        only_b = con.sql("SELECT count(*) FROM (FROM __b EXCEPT ALL FROM __a)").fetchone()[0]
    except duckdb.Error:
        # types DuckDB cannot compare (some nested maps): exact row reprs
        ca = collections.Counter(map(repr, a.fetchall()))
        cb = collections.Counter(map(repr, b.fetchall()))
        only_a = sum((ca - cb).values())
        only_b = sum((cb - ca).values())
    if only_a or only_b:
        return f"{only_a} rows only in A, {only_b} rows only in B"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    qa, qb = queries(dir_a), queries(dir_b)
    bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"MISSING {name}: only in {'A' if name in qa else 'B'}")
            bad += 1
            continue
        why = differs(con, relation(con, dir_a, name), relation(con, dir_b, name))
        if why:
            print(f"DIFF    {name}: {why}")
            bad += 1
    print(f"{len(qa | qb) - bad} identical, {bad} missing or different")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
