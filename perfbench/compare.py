#!/usr/bin/env python3
"""Compare two result sets of the benchmark: a parent and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--bench BENCHMARK.json]

Each directory holds the records `run.py --save DIR` writes, from runs made
alternately on the two commits with the same seeds. For every workload and
end-to-end metric it prints each side's median and quartiles, the share of
pairs (i-th parent run against i-th change run of that workload) the change
wins, and a verdict:

  gain        the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's quartile distance
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  a side's quartile distance exceeds the bound, and not every
              change run beats every parent run
  within      none of the above
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace", 0) == 0:
            runs.setdefault(r["workload"], []).append(r)
    for v in runs.values():
        v.sort(key=lambda r: r["time"])
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(pv, cv, bound, lower_better):
    def better(c, p):
        return c < p if lower_better else c > p
    pq1, pmed, pq3 = quartiles(pv)
    cq1, cmed, cq3 = quartiles(cv)
    pairs = list(zip(pv, cv))
    wins = sum(better(c, p) for p, c in pairs)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = (cmed - pmed) / pmed if lower_better else (pmed - cmed) / pmed
    spread = max((pq3 - pq1) / pmed if pmed else 0.0,
                 (cq3 - cq1) / cmed if cmed else 0.0)
    dominates = all(better(c, p) for c in cv for p in pv)
    if share >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    elif spread > bound and not dominates:
        v = "unresolved"
    else:
        v = "within"
    return (pq1, pmed, pq3), (cq1, cmed, cq3), share, len(pairs), worse_by, spread, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    o = ap.parse_args()
    with open(o.bench) as f:
        bench = json.load(f)
    parent, change = load(o.parent), load(o.change)
    regressions = 0
    print(f"{'workload':18s} {'metric':18s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'wins':>7s} {'worse':>7s} {'spread':>7s}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        if w not in parent or w not in change:
            print(f"{w:18s} (missing on {'parent' if w not in parent else 'change'})")
            continue
        for m in bench["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in parent[w]]
            cv = [r["metrics"][m["name"]]["value"] for r in change[w]]
            p, c, share, n, worse, spread, v = verdict(
                pv, cv, m["bound"], m["better"] == "lower")
            regressions += v == "regression"
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{w:18s} {m['name']:18s} {fmt.format(*p):>32s} {fmt.format(*c):>32s} "
                  f"{share:>4.0%}/{n:<2d} {worse:>+7.1%} {spread:>7.1%}  {v}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
