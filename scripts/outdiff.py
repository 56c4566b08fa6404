#!/usr/bin/env python3
"""Compare the outputs of two delta_stream benchmark work dirs.

Usage: outdiff.py [-v] <workA> <workB>

A work dir is what `python3 perfbench/run.py --workload delta_stream ...`
leaves in `.bench_work/delta_stream`; copy it aside before the next run
overwrites it.  Compared, each as one item:

  state <dir>             the sorted rows of every parquet table (the
                          service state, the decomposed bulk task's state)
  ttl   <dir>/<part-N>    the sorted lines of each TTL partition file,
                          keyed by its partition number (the rest of a
                          part file's name is a per-write uuid)
  html  <dir>             the names and md5s of the externalized HTML files

Prints `identical <item>` or `differs   <item>` per item (with -v, the
first rows only one side has), and exits 1 when any item differs or exists
on one side only.

Run both sides with `--seconds 1`: the service takes trickle tasks until
the window closes, so with a longer window a faster side finishes more
tasks and the states differ by whole tasks.  Reads parquet with duckdb.
"""
import hashlib
import os
import re
import sys

import duckdb

SKIP = {"input", "spark-local", "tmp", "ckpt", "deltas", "incoming"}
PART = re.compile(r"^(part-\d+)-")


def items(root):
    """{item name: comparable value} for one work dir."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x not in SKIP)
        rel = os.path.relpath(d, root)
        visible = sorted(f for f in files if not f.startswith((".", "_")))
        if any(f.endswith(".parquet") for f in visible):
            rows = duckdb.sql(
                "SELECT * FROM read_parquet(?)", params=[os.path.join(d, "*.parquet")]
            ).fetchall()
            out[f"state {rel}"] = sorted(rows, key=repr)
        elif os.path.basename(os.path.dirname(d)) == "ttl":
            for f in visible:
                m = PART.match(f)
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    lines = sorted(fh.read().splitlines())
                out[f"ttl   {rel}/{m.group(1) if m else f}"] = lines
        elif os.path.basename(d) == "html":
            out[f"html  {rel}"] = sorted(
                (f, hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest())
                for f in visible)
    return out


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = (items(x) for x in args)
    if not a and not b:
        print("no outputs found", file=sys.stderr)
        return 1
    bad = False
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"only in {'B' if name not in a else 'A'}: {name}")
            bad = True
            continue
        same = a[name] == b[name]
        print(f"{'identical' if same else 'differs  '} {name}")
        if not same:
            bad = True
            if verbose:
                print("    only A:", [x for x in a[name] if x not in b[name]][:3])
                print("    only B:", [x for x in b[name] if x not in a[name]][:3])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
