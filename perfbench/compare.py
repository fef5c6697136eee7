#!/usr/bin/env python3
"""Compares two sets of benchmark runs, or reports the spread of one.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --spread RESULTS_DIR

Each directory holds the run records perfbench/run.py saves under
.bench_build/perfbench/results (copy them out of each checkout). For every
(end-to-end metric, workload) the comparison prints both sides' medians and
quartiles, the share of pairs the change wins and a verdict from
stats.verdict with the metric's bound from BENCHMARK.json; a workload on
which the change has more incorrect runs (a failed check or a call that
threw) than the parent reads invalid. Runs pair by seed when both sides
ran the same seeds, otherwise in the order they ran.
--spread prints each metric's quartile distance as a share of its median
beside a third of its bound, the steadiness the benchmark aims for.
"""
import argparse
import glob
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(d):
    """{workload: [(seed, time, {metric: value}, correct)]} of the untraced runs."""
    runs = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        with open(f) as fh:
            r = json.load(fh)
        p = r["provenance"]
        if p["trace"] == 0:
            runs.setdefault(p["workload"], []).append(
                (p["seed"], p["time"], {k: m["value"] for k, m in r["metrics"].items()},
                 r["correct"] and r["failed"] == 0))
    return {w: sorted(v, key=lambda x: (x[1], x[0])) for w, v in runs.items()}


def paired(parent, change):
    ps, cs = {r[0] for r in parent}, {r[0] for r in change}
    if ps == cs and len(ps) == len(parent) == len(change):
        bys = lambda runs: [r[2] for r in sorted(runs, key=lambda x: x[0])]
        return bys(parent), bys(change)
    n = min(len(parent), len(change))
    return [r[2] for r in parent[:n]], [r[2] for r in change[:n]]


def incorrect(runs):
    return sum(1 for r in runs if not r[3])


def fmt(xs):
    q1, q2, q3 = stats.quartiles(xs)
    return f"{q2:10.4f} [{q1:.4f}, {q3:.4f}]"


def compare(parent_dir, change_dir, spec):
    parent, change = load(parent_dir), load(change_dir)
    print(f"{'metric':<12} {'workload':<14} {'parent median [q1, q3]':<32} "
          f"{'change median [q1, q3]':<32} {'wins':>5}  verdict")
    for m in spec["end_to_end"]:
        for w in sorted(set(parent) & set(change)):
            p, c = paired(parent[w], change[w])
            pv = [r[m["name"]] for r in p]
            cv = [r[m["name"]] for r in c]
            if not pv:
                continue
            v = stats.verdict(pv, cv, m["better"], m["bound"],
                              incorrect(parent[w]), incorrect(change[w]))
            print(f"{m['name']:<12} {w:<14} {fmt(pv):<32} {fmt(cv):<32} "
                  f"{stats.pair_wins(pv, cv, m['better']):5.2f}  {v}  (n={len(pv)})")


def spread(d, spec):
    runs = load(d)
    print(f"{'metric':<12} {'workload':<14} {'median':>10} {'spread':>8} {'bound/3':>8}  n")
    for m in spec["end_to_end"]:
        for w in sorted(runs):
            xs = [r[2][m["name"]] for r in runs[w]]
            s = stats.spread(xs)
            flag = "" if s < m["bound"] / 3 else "  WIDE"
            print(f"{m['name']:<12} {w:<14} {stats.median(xs):10.4f} {s:8.4f} "
                  f"{m['bound'] / 3:8.4f}  {len(xs)}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--spread", action="store_true")
    a = ap.parse_args()
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    if a.spread:
        spread(a.dirs[0], spec)
    elif len(a.dirs) == 2:
        compare(a.dirs[0], a.dirs[1], spec)
    else:
        ap.error("give PARENT_DIR CHANGE_DIR, or --spread RESULTS_DIR")


if __name__ == "__main__":
    main()
