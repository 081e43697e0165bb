#!/usr/bin/env python3
"""Diff two perfbench spans files on Memo hits and misses per operation.

Usage: tools/memodiff.py BASE_SPANS NEW_SPANS

A spans file is what `perfbench/run.py --trace 1` writes next to its
record (`spans-<workload>-seed<n>.json`). Operations are matched by
(pass, phase, layer, name, occurrence), the occurrence being the n-th
span with the same first four fields. Prints one line per operation
whose `memo_hits` or `memo_misses` differ, or that one side lacks, and
exits 1 if there is any; otherwise prints the matched count and exits 0.
"""
import json
import sys
from collections import Counter


def load(path):
    seen = Counter()
    ops = {}
    for s in json.load(open(path)):
        op = (s["pass"], s["phase"], s["layer"], s["name"])
        ops[op + (seen[op],)] = (s["memo_hits"], s["memo_misses"])
        seen[op] += 1
    return ops


def show(counts):
    return "absent" if counts is None else f"hits {counts[0]} misses {counts[1]}"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, new = load(argv[1]), load(argv[2])
    diffs = 0
    for op in sorted(base.keys() | new.keys(), key=lambda k: tuple(map(str, k))):
        b, n = base.get(op), new.get(op)
        if b != n:
            diffs += 1
            print(f"DIFF pass {op[0]} {op[1]} {op[2]} {op[3]} #{op[4]}: {show(b)} -> {show(n)}")
    if diffs:
        print(f"{diffs} of {len(base.keys() | new.keys())} operations differ")
        return 1
    print(f"SAME {len(base)} operations: memo hits and misses identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
