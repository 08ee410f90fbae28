#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 e2ebench/diff.py BASE.jsonl NEW.jsonl [--layers N]

Each file holds the records `run.py --out FILE` appends, one run per
line, any mix of workloads and seeds. For every workload found in both
files it prints each end-to-end metric (median of the runs, the change,
and a verdict against the metric's bound in BENCHMARK.json), then the
per-layer metrics ranked by the size of their relative change. A change
smaller than the base runs' own quartile spread is reported as
unresolved, not as a gain or a loss.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(path):
    """workload -> {"e2e": metric -> [values], "layer": metric -> [values]}"""
    out = defaultdict(lambda: {"e2e": defaultdict(list), "layer": defaultdict(list)})
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                for k, v in r["end_to_end"].items():
                    out[r["workload"]]["e2e"][k].append(v)
                for k, v in r.get("per_layer", {}).items():
                    out[r["workload"]]["layer"][k].append(v)
    return out


def spread(xs):
    """Quartile distance as a share of the median (0 for fewer than 2 runs)."""
    if len(xs) < 2 or not statistics.median(xs):
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / abs(statistics.median(xs))


def change(base, new):
    b, n = statistics.median(base), statistics.median(new)
    return b, n, (n - b) / abs(b) if b else (0.0 if n == b else float("inf"))


def verdict(rel, better, bound, noise):
    worse = rel > 0 if better == "lower" else rel < 0
    if abs(rel) <= noise:
        return "unresolved" if abs(rel) > 0 else "same"
    if worse:
        return "REGRESSION" if abs(rel) > bound else "worse, within bound"
    return "better"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--layers", type=int, default=25, help="per-layer rows to show per workload")
    a = ap.parse_args(argv)
    with open(BENCHMARK) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load(a.base), load(a.new)
    for w in sorted(set(base) & set(new)):
        print(f"== {w}")
        print(f"  {'metric':24s} {'base':>12s} {'new':>12s} {'change':>8s}  verdict")
        for k, m in spec.items():
            bx, nx = base[w]["e2e"].get(k, []), new[w]["e2e"].get(k, [])
            if not bx or not nx:
                continue
            b, n, rel = change(bx, nx)
            v = verdict(rel, m["better"], m["bound"], spread(bx))
            print(f"  {k:24s} {b:12.5g} {n:12.5g} {100 * rel:+7.1f}%  {v}"
                  f"  (runs {len(bx)}/{len(nx)}, base spread {100 * spread(bx):.1f}%, bound {100 * m['bound']:.0f}%)")
        rows = []
        for k in set(base[w]["layer"]) & set(new[w]["layer"]):
            b, n, rel = change(base[w]["layer"][k], new[w]["layer"][k])
            if b or n:
                rows.append((abs(rel), k, b, n, rel))
        if rows:
            print(f"  per-layer, largest relative change first:")
            for _, k, b, n, rel in sorted(rows, reverse=True)[:a.layers]:
                print(f"  {k:48s} {b:12.5g} {n:12.5g} {100 * rel:+7.1f}%")
    missing = sorted(set(base) ^ set(new))
    if missing:
        print(f"only in one file: {', '.join(missing)}", file=sys.stderr)


if __name__ == "__main__":
    main()
