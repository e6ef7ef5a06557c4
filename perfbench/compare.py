#!/usr/bin/env python3
"""Compares two result sets of the benchmark, e.g. parent and change.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are directories of records as run.py keeps them under
.bench_build/results/ (or single JSON-lines files of such records). For each
workload it prints one row: per end-to-end metric the parent and change
medians with their quartiles, the fraction of (parent, change) pairs the
change wins, and a verdict against the metric's bound in BENCHMARK.json:

* ``unresolved``: either side's run-to-run spread (IQR / median) exceeds
  the bound, so the data cannot decide;
* ``worse`` / ``better``: the median moved past the bound;
* ``same``: within the bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    """{workload: {metric: [values]}} from untraced run records."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        if f.endswith(".trace.json"):
            continue
        with open(f) as fh:
            lines = [json.loads(line) for line in fh.read().splitlines() if line.strip()]
        for rec in lines:
            det, res = rec.get("details", {}), rec.get("result", {})
            if det.get("trace") or "workload" not in det:
                continue
            for name, m in res.get("metrics", {}).items():
                out.setdefault(det["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def verdict(parent, change, bound, better):
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    if (p3 - p1) / abs(pm) > bound or (c3 - c1) / abs(cm) > bound:
        return "unresolved"
    rel = (cm - pm) / abs(pm)
    worse = rel > bound if better == "lower" else rel < -bound
    improved = rel < -bound if better == "lower" else rel > bound
    return "worse" if worse else "better" if improved else "same"


def won(parent, change, better):
    wins = sum((c < p) if better == "lower" else (c > p) for p in parent for c in change)
    return wins / (len(parent) * len(change))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args()
    spec = json.load(open(args.benchmark))
    parent, change = load(args.parent), load(args.change)
    status = 0
    for w in [w["name"] for w in spec["workloads"]]:
        cells = []
        for m in spec["end_to_end"]:
            p, c = parent.get(w, {}).get(m["name"]), change.get(w, {}).get(m["name"])
            if not p or not c:
                cells.append(f"{m['name']}: no data")
                continue
            v = verdict(p, c, m["bound"], m["better"])
            status |= v == "worse"
            pq, cq = quartiles(p), quartiles(c)
            cells.append(f"{m['name']} {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] -> "
                         f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] {m['unit']}, "
                         f"won {won(p, c, m['better']):.0%}, {v}")
        print(f"{w}: " + " | ".join(cells))
    return status


if __name__ == "__main__":
    sys.exit(main())
