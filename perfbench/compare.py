#!/usr/bin/env python3
"""Compare two sets of benchmark results, one row per workload and metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result records that `perfbench/run.py --results DIR`
writes (`<workload>-seed<n>-trace0.json`). Runs are paired by seed (by order
when the two sides share no seed). For every end-to-end metric of
BENCHMARK.json the row gives each side's median and quartiles, the share of
pairs the new side won (ties count for neither) and a verdict:

  improved    the new side won at least 9 pairs in 10 and the medians differ
              by more than the base side's interquartile range
  no worse    the new median is within the metric's bound of the base median
  worse       the new median is worse than the base median by more than the bound
  unresolved  the base side's spread exceeds the bound, and not every new run
              beats every base run
"""
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(d):
    """{workload: {seed: {metric: value}}} from the untraced records in `d`."""
    out = {}
    for f in sorted(Path(d).glob("*-trace0.json")):
        rec = json.loads(f.read_text())
        metrics = rec["end_to_end"]
        out.setdefault(rec["workload"], {})[rec["seed"]] = {k: v["value"] for k, v in metrics.items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, new, better, bound, pairs):
    sign = 1 if better == "lower" else -1
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    won = sum(1 for b, n in pairs if sign * (n - b) < 0)
    share = won / len(pairs) if pairs else float("nan")
    worse_by = sign * (nm - bm) / bm if bm else float("inf")
    spread = (b3 - b1) / bm if bm else float("inf")
    all_better = all(sign * (n - b) < 0 for n in new for b in base)
    if pairs and share >= 0.9 and worse_by < 0 and abs(nm - bm) > (b3 - b1):
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by <= bound:
        v = "no worse"
    else:
        v = "worse"
    return (b1, bm, b3), (n1, nm, n3), share, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads(BENCHMARK.read_text())
    base, new = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':18} {'metric':16} {'unit':5} {'base median [q1, q3]':>30} "
          f"{'new median [q1, q3]':>30} {'won':>5}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        b_runs, n_runs = base.get(name, {}), new.get(name, {})
        if not b_runs or not n_runs:
            print(f"{name:18} (no results on {'both sides' if not (b_runs or n_runs) else 'one side'})")
            continue
        common = sorted(set(b_runs) & set(n_runs))
        seed_pairs = ([(b_runs[s], n_runs[s]) for s in common] if common else
                      list(zip([b_runs[s] for s in sorted(b_runs)], [n_runs[s] for s in sorted(n_runs)])))
        for m in spec["end_to_end"]:
            k = m["name"]
            bv = [r[k] for r in b_runs.values() if k in r]
            nv = [r[k] for r in n_runs.values() if k in r]
            if not bv or not nv:
                continue
            pairs = [(b[k], n[k]) for b, n in seed_pairs if k in b and k in n]
            (b1, bm, b3), (n1, nm, n3), share, v = verdict(bv, nv, m["better"], m["bound"], pairs)
            print(f"{name:18} {k:16} {m['unit']:5} {bm:12.4g} [{b1:.4g}, {b3:.4g}]".ljust(62) +
                  f"{nm:12.4g} [{n1:.4g}, {n3:.4g}]".rjust(30) + f" {share:5.2f}  {v}")


if __name__ == "__main__":
    main()
