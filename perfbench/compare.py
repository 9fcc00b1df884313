#!/usr/bin/env python3
"""Diff two traced benchmark captures layer by layer.

    python3 perfbench/compare.py <base capture> <new capture> [--all]

Captures are the files `perfbench/run.py --trace 1` writes under
perfbench/captures/. For each layer the table shows jobs, task CPU seconds
and shuffle bytes of both captures and the change; `--all` adds every other
layer metric and the global counters. Counts such as jobs and shuffle bytes
repeat exactly between runs of the same code and inputs, so they compare
two versions of the program without the noise of wall-clock time.
"""
import argparse
import json
import sys

KEY_METRICS = ("jobs", "task_cpu_s", "shuffle_bytes")


def load(path):
    with open(path) as f:
        cap = json.load(f)
    if not cap.get("trace") or "layers" not in cap:
        sys.exit(f"{path} is not a traced capture (run with --trace 1)")
    return cap


def fmt(v):
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return f"{int(v):d}"


def change(a, b):
    if a == b:
        return "="
    if a == 0:
        return "new"
    return f"{(b - a) / a:+.1%}"


def rows(base, new, show_all):
    metrics = list(KEY_METRICS)
    if show_all:
        metrics += sorted({m for l in base["layers"].values() for m in l} - set(KEY_METRICS))
    for layer in sorted(set(base["layers"]) | set(new["layers"])):
        a, b = base["layers"].get(layer, {}), new["layers"].get(layer, {})
        for m in metrics:
            x, y = a.get(m, 0.0), b.get(m, 0.0)
            if show_all or x or y:
                yield f"{layer}.{m}", x, y
    if show_all:
        for c in sorted(set(base["counters"]) | set(new["counters"])):
            yield c, base["counters"].get(c, 0.0), new["counters"].get(c, 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--all", action="store_true", help="every metric and counter")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    for k in ("workload", "seed", "seconds"):
        if base.get(k) != new.get(k):
            print(f"note: {k} differs: {base.get(k)} vs {new.get(k)}")
    print(f"{'metric':48s} {'base':>14s} {'new':>14s} {'change':>8s}")
    for name, x, y in rows(base, new, args.all):
        print(f"{name:48s} {fmt(x):>14s} {fmt(y):>14s} {change(x, y):>8s}")


if __name__ == "__main__":
    main()
