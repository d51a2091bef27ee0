#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE CANDIDATE
    python3 perfbench/compare.py --layers BASE_TRACED CANDIDATE_TRACED

BASE and CANDIDATE are run records written by `perfbench/run.py` (files
under `.bench_build/records/`), given as directories or files; copy each
side's records aside before building the other side.

Default mode: one row per workload and end-to-end metric of the untraced
(`--trace 0`) runs, with each side's median and quartiles, the share of
pairs the candidate wins (runs paired by seed, else in order; ties count
for neither), and a verdict:

  gain        the candidate wins at least 9/10 of the pairs and the
              medians differ by more than the base's quartile spread
  regression  the candidate's median is worse than the base's by more
              than the metric's bound in BENCHMARK.json
  unresolved  the base's own spread (quartile distance / median) is
              wider than the bound and the candidate does not beat
              every base run
  same        none of the above

`--layers` diffs the per-layer metrics of traced (`--trace 1`) runs:
median of each side, difference and ratio.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths, traced):
    recs = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if bool(r.get("trace")) == traced:
                recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b):
    """Pair runs by seed where both sides ran it, else by position."""
    bs = {r["seed"]: r for r in b}
    if all(r["seed"] in bs for r in a):
        return [(r, bs[r["seed"]]) for r in a]
    return list(zip(a, b))


def verdict(base, cand, better, bound, won, n_pairs):
    q1, med, q3 = quartiles(base)
    _, cmed, _ = quartiles(cand)
    sign = 1 if better == "higher" else -1
    spread = q3 - q1
    if n_pairs and won >= 0.9 * n_pairs and abs(cmed - med) > spread and sign * (cmed - med) > 0:
        return "gain"
    if sign * (cmed - med) < -bound * abs(med):
        return "regression"
    if med and spread / abs(med) > bound and not (
            min(cand) > max(base) if better == "higher" else max(cand) < min(base)):
        return "unresolved"
    return "same"


def end_to_end(a, b, bench):
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = sorted({r["workload"] for r in a + b})
    print(f"{'workload':<10} {'metric':<14} {'base q1/med/q3':>30} {'cand q1/med/q3':>30} "
          f"{'wins':>7}  verdict")
    for w in workloads:
        wa = [r for r in a if r["workload"] == w]
        wb = [r for r in b if r["workload"] == w]
        if not wa or not wb:
            print(f"{w:<10} (runs on one side only)")
            continue
        for name, m in metrics.items():
            xa = [r["end_to_end"][name]["value"] for r in wa]
            xb = [r["end_to_end"][name]["value"] for r in wb]
            ps = pairs(wa, wb)
            sign = 1 if m["better"] == "higher" else -1
            won = sum(1 for ra, rb in ps if sign * (rb["end_to_end"][name]["value"]
                                                     - ra["end_to_end"][name]["value"]) > 0)
            fa, fb = ("{:.4g}/{:.4g}/{:.4g}".format(*quartiles(x)) for x in (xa, xb))
            v = verdict(xa, xb, m["better"], m["bound"], won, len(ps))
            print(f"{w:<10} {name:<14} {fa:>30} {fb:>30} {won:>3}/{len(ps):<3}  {v}")


def layers(a, b):
    for w in sorted({r["workload"] for r in a + b}):
        wa = [r["per_layer"] for r in a if r["workload"] == w and r.get("per_layer")]
        wb = [r["per_layer"] for r in b if r["workload"] == w and r.get("per_layer")]
        if not wa or not wb:
            continue
        print(f"== {w} ({len(wa)} vs {len(wb)} traced runs)")
        print(f"{'layer metric':<30} {'base':>12} {'cand':>12} {'diff':>12} {'ratio':>7}")
        for k in wa[0]:
            x = statistics.median(r[k] for r in wa)
            y = statistics.median(r[k] for r in wb)
            if x == 0 and y == 0:
                continue
            ratio = f"{y / x:.3f}" if x else "-"
            print(f"{k:<30} {x:>12.5g} {y:>12.5g} {y - x:>12.5g} {ratio:>7}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("candidate")
    ap.add_argument("--layers", action="store_true", help="diff per-layer metrics of traced runs")
    args = ap.parse_args()
    a = load([args.base], args.layers)
    b = load([args.candidate], args.layers)
    if not a or not b:
        sys.exit("no matching run records on one side")
    if args.layers:
        layers(a, b)
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            end_to_end(a, b, json.load(f))


if __name__ == "__main__":
    main()
