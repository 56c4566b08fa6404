#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Usage: querydiff.py [-v] <verifyA> <verifyB> [query ...]

A verify dir is what `sbt "runMain graft.Verify <sfDir> <outDir>"` writes:
one parquet directory per driver query.  Each query compares as its column
names plus its rows sorted, so row order (which a `coalesce(1)` write does
not fix) never counts as a difference.  With query names given, only those
are compared; otherwise every query directory on either side is.

Prints `identical <query>` or `differs   <query>` per query (with -v, the
first rows only one side has), and exits 1 when any query differs or
exists on one side only.  Reads parquet with duckdb.
"""
import os
import sys

import duckdb


def queries(root):
    """Names of the query directories under a verify dir."""
    return {
        d for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d))
        and any(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
    }


def load(root, name):
    """(column names, rows sorted by repr) of one query's output."""
    rel = duckdb.sql(
        "SELECT * FROM read_parquet(?)",
        params=[os.path.join(root, name, "*.parquet")])
    return rel.columns, sorted(rel.fetchall(), key=repr)


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if len(args) < 2:
        sys.exit(__doc__)
    a, b, wanted = args[0], args[1], args[2:]
    qa, qb = queries(a), queries(b)
    names = sorted(wanted or (qa | qb))
    bad = 0
    for name in names:
        if name not in qa or name not in qb:
            side = "neither side" if name not in qa | qb else \
                (a if name in qa else b) + " only"
            print(f"missing   {name} ({side})")
            bad += 1
            continue
        cols_a, rows_a = load(a, name)
        cols_b, rows_b = load(b, name)
        # repr compares floats exactly and NaN equal to NaN
        same = cols_a == cols_b and repr(rows_a) == repr(rows_b)
        print(f"{'identical' if same else 'differs  '} {name}")
        if not same:
            bad += 1
            if verbose:
                if cols_a != cols_b:
                    print(f"    columns {cols_a} vs {cols_b}")
                ra, rb = set(map(repr, rows_a)), set(map(repr, rows_b))
                for tag, only in (("A", ra - rb), ("B", rb - ra)):
                    for r in sorted(only)[:5]:
                        print(f"    {tag} only: {r}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
