#!/usr/bin/env python3
"""Diff two Bench detail files (BENCH_FULL_local.json) per query.

Usage: tools/benchdiff.py OLD NEW

Compares each query's `cold_sec` and `min_sec` in the files' "queries"
sections, plus `cpu_cold_sec` and `cpu_sec` when both files have them.
Prints, in this order:
- a totals line: each field summed over the queries both files time;
- one `only in OLD` / `only in NEW` line per query that one file lacks;
- one row per common query, largest |delta cold_sec| first.

Each cell reads `old -> new (delta)`, in seconds. Always exits 0.
"""
import json
import signal
import sys

BASE_FIELDS = ["cold_sec", "min_sec"]
CPU_FIELDS = ["cpu_cold_sec", "cpu_sec"]


def load(path):
    return json.load(open(path))["queries"]


def cell(old, new):
    return f"{old:.2f} -> {new:.2f} ({new - old:+.2f})"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    old, new = load(argv[1]), load(argv[2])
    common = [q for q in old if q in new]
    has_cpu = all(f in e for e in list(old.values()) + list(new.values())
                  for f in CPU_FIELDS)
    fields = BASE_FIELDS + (CPU_FIELDS if has_cpu else [])
    label = f"TOTAL ({len(common)} queries)"
    width = max(len(q) for q in common + [label])

    def row(name, o, n):
        return f"{name:<{width}}  " + "  ".join(
            f"{f} {cell(o[f], n[f])}" for f in fields)

    def total(side):
        return {f: sum(side[q][f] for q in common) for f in fields}

    print(row(label, total(old), total(new)))
    for q in old:
        if q not in new:
            print(f"only in OLD: {q}")
    for q in new:
        if q not in old:
            print(f"only in NEW: {q}")
    for q in sorted(common, key=lambda q: -abs(new[q]["cold_sec"] - old[q]["cold_sec"])):
        print(row(q, old[q], new[q]))


if __name__ == "__main__":
    main(sys.argv)
