#!/usr/bin/env python3
"""Diff two `graft.Tools plans` output directories, ignoring what varies
between runs of the same code.

    python3 tools/plandiff.py <dirA> <dirB>

Every `<query>.txt` plan of either directory is compared after masking:
call-site line numbers (`at SparkCrawler.scala:632`), expression ids
(`seq#515L`), `plan_id=` values, RDD ids (`MapPartitionsRDD[83]`) and
lambda class names/addresses. Prints a unified diff per differing plan and
a summary line; exits 1 when any plan differs or exists on one side only,
else 0.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"(\w+\.scala):\d+"), r"\1:_"),  # call-site line numbers
    (re.compile(r"#\d+"), "#_"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    # RDD ids: side jobs create RDDs concurrently with the main thread, so
    # two runs of one commit number them differently
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[_]"),
    (re.compile(r"\$\$Lambda[\w$/.]*(@[0-9a-f]+)?"), "$$Lambda"),  # lambda addresses
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {n for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = argv[1], argv[2]
    pa, pb = plans(a), plans(b)
    same, differ = 0, 0
    for name in sorted(pa | pb):
        if name not in pa or name not in pb:
            print(f"{name}: only in {a if name in pa else b}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(masked(os.path.join(a, name)),
                                         masked(os.path.join(b, name)),
                                         f"{a}/{name}", f"{b}/{name}"))
        if diff:
            sys.stdout.writelines(diff)
            differ += 1
        else:
            same += 1
    print(f"plandiff: {same} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
