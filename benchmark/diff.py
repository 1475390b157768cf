#!/usr/bin/env python3
"""Compare two sets of benchmark records, metric by metric.

    python3 benchmark/diff.py BASE NEW
    python3 benchmark/diff.py --overhead UNTRACED TRACED

BASE and NEW are record files or directories of them, as run.py keeps under
benchmark/.work/results/ (one file per workload, seed and trace setting).
Records of one workload and trace setting are pooled: each metric is
reported as the median over seeds, with the number of records behind it.
Every line gives the base value, the new value and the ratio new/base.

--overhead compares untraced runs with traced runs of the same workloads:
the traced run's trace.* metrics against the untraced end-to-end metrics of
the same name, so the ratio is the cost of tracing.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    """{(workload, trace): {metric: [values]}} and the units seen."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    pooled, units = {}, {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        key = (rec.get("workload", os.path.basename(f)), rec.get("trace", 0))
        for name, m in rec["result"]["metrics"].items():
            pooled.setdefault(key, {}).setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    return pooled, units


def fmt(v):
    return f"{v:.6g}" if v is not None else "-"


def table(base, new, units):
    for key in sorted(set(base) | set(new)):
        workload, trace = key
        print(f"\n{workload} (trace {trace})")
        print(f"  {'metric':44s} {'unit':8s} {'base':>12s} {'new':>12s} {'new/base':>9s}  n")
        b, n = base.get(key, {}), new.get(key, {})
        for name in sorted(set(b) | set(n)):
            bv = statistics.median(b[name]) if name in b else None
            nv = statistics.median(n[name]) if name in n else None
            ratio = f"{nv / bv:9.3f}" if bv and nv is not None else f"{'-':>9s}"
            count = f"{len(b.get(name, []))}/{len(n.get(name, []))}"
            print(f"  {name:44s} {units.get(name, ''):8s} {fmt(bv):>12s} {fmt(nv):>12s} "
                  f"{ratio}  {count}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    base, bu = load(args.base)
    new, nu = load(args.new)
    units = {**bu, **nu}
    if args.overhead:
        # a trace.* metric the workload does not report reads 0
        new = {k: {n[len("trace."):]: v for n, v in m.items()
                   if n.startswith("trace.") and any(v)}
               for k, m in new.items() if k[1] == 1}
        base = {(w, 1): {n: v for n, v in m.items() if n in new.get((w, 1), {})}
                for (w, t), m in base.items() if t == 0}
    table(base, new, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
