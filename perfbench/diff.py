#!/usr/bin/env python3
"""Per-layer diff of two benchmark result sets.

Usage: diff.py BASE_DIR CHANGE_DIR

Each directory holds result files written by run.py (its
.bench_build/perfbench/results/ directory, copied aside per commit). For each
workload the printer shows:

  - every end-to-end metric's median and quartiles on both sides, from the
    untraced runs (--trace 0), and the change's delta against the base;
  - the paired win fraction: runs paired by seed, the share of pairs in
    which the change reads better (every end-to-end metric is lower-better;
    ties count for neither side);
  - the per-layer deltas from the traced runs (--trace 1): each layer
    metric's median per workload and per op, base against change.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def fmt(v):
    return f"{v:.4g}"


def end_to_end(wl, base, change):
    b = [r for r in base if r["workload"] == wl and r["trace"] == 0]
    c = [r for r in change if r["workload"] == wl and r["trace"] == 0]
    if not b or not c:
        return
    print(f"\n== {wl}: end-to-end (base {len(b)} runs, change {len(c)} runs)")
    print(f"  {'metric':<16}{'base q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'delta':>9}{'wins':>10}")
    for m in b[0]["end_to_end"]:
        bv = [r["end_to_end"][m] for r in b]
        cv = [r["end_to_end"][m] for r in c]
        bq, cq = quartiles(bv), quartiles(cv)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        bs = {r["seed"]: r["end_to_end"][m] for r in b}
        pairs = [(bs[r["seed"]], r["end_to_end"][m]) for r in c if r["seed"] in bs]
        wins = sum(1 for x, y in pairs if y < x)
        win = f"{wins}/{len(pairs)}" if pairs else "-"
        print(f"  {m:<16}{'/'.join(map(fmt, bq)):>30}{'/'.join(map(fmt, cq)):>30}"
              f"{delta:>+9.1%}{win:>10}")


def layer_medians(runs, key):
    """Median over runs of each layer metric; key picks the workload row or
    one op's row out of a run's census."""
    rows = [key(r["harness"]["layers"]) for r in runs]
    rows = [x for x in rows if x]
    if not rows:
        return {}
    return {m: statistics.median(x[m] for x in rows)
            for m in rows[0] if m != "module"}


def per_layer(wl, base, change):
    b = [r for r in base if r["workload"] == wl and r["trace"] == 1]
    c = [r for r in change if r["workload"] == wl and r["trace"] == 1]
    if not b or not c:
        return
    print(f"\n== {wl}: per-layer deltas (traced; base {len(b)} runs, change {len(c)} runs)")
    scopes = [("workload", lambda lay: lay["workload"])]
    for op in b[0]["harness"]["layers"]["per_op"]:
        scopes.append((op, lambda lay, op=op: lay["per_op"].get(op)))
    for name, key in scopes:
        bm, cm = layer_medians(b, key), layer_medians(c, key)
        changed = [m for m in bm if m in cm and bm[m] != cm[m]]
        if not changed:
            continue
        print(f"  [{name}]")
        for m in changed:
            d = cm[m] - bm[m]
            rel = f"{d / bm[m]:+.1%}" if bm[m] else "   n/a"
            print(f"    {m:<26}{fmt(bm[m]):>12} -> {fmt(cm[m]):<12}{d:>+12.4g} {rel:>8}")
    for side, runs, everything in (("base", b, base), ("change", c, change)):
        untraced = [r["end_to_end"]["pass_s"] for r in everything
                    if r["workload"] == wl and r["trace"] == 0]
        if untraced:
            over = (statistics.median(r["harness"]["pass_s"] for r in runs)
                    - statistics.median(untraced))
            print(f"  tracing overhead ({side}): median traced pass_s - median untraced "
                  f"pass_s = {over:+.3f} s")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted({r["workload"] for r in base + change}):
        end_to_end(wl, base, change)
        per_layer(wl, base, change)


if __name__ == "__main__":
    main()
