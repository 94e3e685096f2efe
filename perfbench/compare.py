#!/usr/bin/env python3
"""Summarize or compare sets of benchmark runs.

    python3 perfbench/compare.py RUNS.jsonl              # one set: spread per metric
    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

A runs file holds one JSON object per line, as `sweep.py` writes them:
{"workload", "seed", "trace", "result": <the run's last output line>}.
For each workload and metric it prints the median and quartiles
(statistics.quantiles, n=4) of each set and the spread (Q3 - Q1) as a
share of the median. Given two sets it also prints the share of pairs
(runs with the same seed) that the change wins, ties counting for
neither, and a verdict against the metric's bound in BENCHMARK.json:

  worse       the change's median is worse than the parent's by more than the bound
  unresolved  the parent's spread exceeds the bound, and not every change run
              beats every parent run
  better      the change wins at least 9/10 of the pairs and the medians differ
              by more than the parent's spread (Q3 - Q1)
  same        none of the above

Exit status 1 if any verdict is `worse`.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path):
    """{(workload, metric): {seed: value}} plus failed/attempted shares."""
    vals = defaultdict(dict)
    fails = defaultdict(list)
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            res = rec["result"]
            if not res.get("correct", False):
                print(f"note: {path}: {rec['workload']} seed {rec['seed']} was not correct")
            fails[rec["workload"]].append(res["failed"] / res["attempted"])
            for m, v in res["metrics"].items():
                vals[(rec["workload"], m)][rec["seed"]] = v["value"]
    return vals, fails


def stats(xs):
    xs = list(xs)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def verdict(base, change, better, bound):
    bmed, bq1, bq3, bspread = stats(base.values())
    cmed = statistics.median(change.values())
    sign = 1 if better == "higher" else -1
    worse_by = sign * (bmed - cmed) / abs(bmed) if bmed else 0.0
    seeds = sorted(set(base) & set(change))
    wins = sum(1 for s in seeds if sign * (change[s] - base[s]) > 0)
    win_share = wins / len(seeds) if seeds else None
    all_better = all(sign * (c - b) > 0 for c in change.values() for b in base.values())
    if worse_by > bound:
        v = "worse"
    elif bspread > bound and not all_better:
        v = "unresolved"
    elif seeds and win_share >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        v = "better"
    else:
        v = "same"
    return win_share, v


def main():
    with open(SPEC) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sets = [load(p) for p in sys.argv[1:3]]
    if not sets:
        sys.exit(__doc__)
    worse = False
    for (workload, metric) in sorted(sets[0][0]):
        m = metrics.get(metric)
        if m is None:
            continue
        cols = []
        for vals, _ in sets:
            xs = vals.get((workload, metric), {})
            if not xs:
                cols.append("-")
                continue
            med, q1, q3, spread = stats(xs.values())
            cols.append(f"{med:.6g} [{q1:.6g}, {q3:.6g}] spread {spread:.3f} n={len(xs)}")
        line = f"{workload:18} {metric:28} " + " | ".join(cols)
        if len(sets) == 2 and "bound" in m and (workload, metric) in sets[1][0]:
            share, v = verdict(sets[0][0][(workload, metric)], sets[1][0][(workload, metric)],
                               m["better"], m["bound"])
            worse |= v == "worse"
            wins = "-" if share is None else f"{share:.2f}"
            line += f" | wins {wins} {v} (bound {m['bound']})"
        elif "bound" in m:
            spread = stats(sets[0][0][(workload, metric)].values())[3]
            if metric != "setup_s":
                line += " | OK" if spread < m["bound"] / 3 else f" | spread over bound/3 ({m['bound']})"
        print(line)
    for workload in sorted(sets[0][1]):
        shares = [sorted(set(f[workload])) for _, f in sets if workload in f]
        print(f"{workload:18} failed/attempted " + " | ".join(str(s) for s in shares))
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
