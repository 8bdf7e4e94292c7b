#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are directories (or files) of run records, the JSON files
run.py keeps in perfbench/.work/runs/ (untraced runs only are compared).
Runs of one workload pair up by seed; unmatched seeds pair in sorted order.

For each (metric, workload) the table shows each side's median and
quartiles (statistics.quantiles, n=4) and a verdict by the rule of the
choosing-metrics method (section 8):

- better:     the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
- worse:      the change's median is worse than the parent's by more than
              the metric's bound;
- unresolved: the parent's quartile spread, as a share of its median,
              exceeds the bound, and not every change run beats every
              parent run;
- same:       otherwise (within the bound).
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            try:
                r = json.load(fh)
            except json.JSONDecodeError:
                continue
        if isinstance(r, dict) and r.get("trace") == 0 and "report" in r:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def pairs(a_runs, b_runs, metric):
    a = {r["seed"]: r["report"][metric] for r in a_runs if metric in r["report"]}
    b = {r["seed"]: r["report"][metric] for r in b_runs if metric in r["report"]}
    common = sorted(set(a) & set(b))
    out = [(a[s], b[s]) for s in common]
    rest_a = [a[s] for s in sorted(set(a) - set(common))]
    rest_b = [b[s] for s in sorted(set(b) - set(common))]
    return out + list(zip(rest_a, rest_b))


def verdict(ps, lower, bound):
    """Returns (wins, verdict) for (parent, change) value pairs."""
    pa, pb = [x for x, _ in ps], [y for _, y in ps]
    med_a, med_b = statistics.median(pa), statistics.median(pb)
    q1a, _, q3a = quartiles(pa)
    spread = q3a - q1a
    better = (lambda x, y: y < x) if lower else (lambda x, y: y > x)
    wins = sum(better(x, y) for x, y in ps)
    if wins >= 0.9 * len(ps) and better(med_a, med_b) and abs(med_b - med_a) > spread:
        return wins, "better"
    if better(med_b, med_a) and abs(med_b - med_a) > bound * abs(med_a):
        return wins, "worse"
    if med_a and spread / abs(med_a) > bound and \
            not all(better(x, y) for x in pa for y in pb):
        return wins, "unresolved"
    return wins, "same"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        spec = json.load(f)
    metrics = [(m["name"], m["better"] == "lower", m["bound"]) for m in spec["end_to_end"]]
    metrics.append(("fail_frac", True, 0.0))
    ra, rb = load(a.parent), load(a.change)
    print(f"{'metric':<16} {'workload':<12} {'n':>5} {'parent q1/med/q3':>32} "
          f"{'change q1/med/q3':>32} {'wins':>7}  verdict")
    worst = 0
    for w in sorted(set(ra) & set(rb)):
        for name, lower, bound in metrics:
            ps = pairs(ra[w], rb[w], name)
            if not ps:
                continue
            wins, v = verdict(ps, lower, bound)
            qa, qb = quartiles([x for x, _ in ps]), quartiles([y for _, y in ps])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:<16} {w:<12} {len(ps):>5} {fmt(qa):>32} {fmt(qb):>32} "
                  f"{wins:>3}/{len(ps):<3}  {v}")
            worst = max(worst, 1 if v == "worse" else 0)
    missing = sorted(set(ra) ^ set(rb))
    if missing:
        print(f"workloads on one side only: {', '.join(missing)}")
    return worst


if __name__ == "__main__":
    sys.exit(main())
