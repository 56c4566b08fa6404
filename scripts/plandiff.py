#!/usr/bin/env python3
"""Compare PlanDump before/after pairs, ignoring run-specific tokens.

Usage: plandiff.py [-v] <dir> [query ...]

For every `<q>_before.txt` in <dir> that has a `<q>_after.txt` (or for the
named queries only), prints `identical <q>` or `differs   <q>`; with -v a
unified diff of the normalized text follows each differing pair. Exits 1
when any pair differs or a named/before file has no partner, 1 as well
when <dir> holds no pair at all, else 0.

Exactly these tokens are rewritten before comparing, because they change
from run to run or with unrelated source edits, never with the plan:

  expression ids        `#1235`  (the `L` type suffix is kept)  -> `#N`
  exchange plan ids     `plan_id=4498`                          -> `plan_id=N`
  lambda class names    `$$Lambda$12/0x0000a0@5e6f`, `$$Lambda/0x0a0`
                                                                -> `$$Lambda`
  object identity hash  `Foo@5e6f7a`                            -> `Foo@ADDR`
  RDD ids               `MapPartitionsRDD[9]`                   -> `MapPartitionsRDD[N]`
  call-site line        `at Dedup.scala:72`                     -> `at Dedup.scala:L`
  temp store suffix     `graft-bm25-store1727...` (createTempDirectory)
                                                                -> `graft-bm25-storeTMP`

Operator trees, attribute names, expressions, literals, partitioning,
pushed filters and file locations otherwise compare verbatim.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"\$\$Lambda[\w$]*(?:/0x[0-9a-f]+)?(?:@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w)@[0-9a-f]{4,}\b"), r"\1@ADDR"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(at \w+\.scala):\d+"), r"\1:L"),
    (re.compile(r"(graft-\w+-store)\d+"), r"\1TMP"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if not args:
        sys.exit(__doc__)
    d, names = args[0], args[1:]
    if not names:
        names = sorted(f[: -len("_before.txt")] for f in os.listdir(d)
                       if f.endswith("_before.txt"))
    if not names:
        sys.exit(f"plandiff: no <q>_before.txt files in {d}")
    bad = 0
    for q in names:
        paths = [os.path.join(d, f"{q}_{t}.txt") for t in ("before", "after")]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            print(f"missing   {q}: {', '.join(missing)}")
            bad += 1
            continue
        before, after = (normalize(open(p).read()) for p in paths)
        if before == after:
            print(f"identical {q}")
            continue
        bad += 1
        print(f"differs   {q}")
        if verbose:
            sys.stdout.writelines(difflib.unified_diff(
                before.splitlines(True), after.splitlines(True),
                f"{q}_before", f"{q}_after"))
    print(f"{len(names) - bad}/{len(names)} identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
