#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 bench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the run records bench/run.py writes to
bench/results/ (<workload>-seed<N>-trace<0|1>.json). For every workload
and end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the fraction of seed-paired runs the change wins, and a
verdict:

  improved    the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own quartile spread;
  no-worse    the change's median is not worse than the parent's by more
              than the metric's bound;
  worse       it is;
  unresolved  either side's quartile spread is wider than the bound and
              the change does not beat the parent on every run.

Traced records (trace1) are compared per layer; count metrics are
reported as counts (parent -> change, difference), never as speed-ups.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d, trace):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, f"*-trace{trace}.json"))):
        with open(p) as fh:
            r = json.load(fh)
        runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(par, chg, better, bound, pairs):
    """Verdict for one metric from the two sides' values and the seed pairs."""
    sign = 1.0 if better == "lower" else -1.0   # sign * (b - a) > 0: b is worse
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    all_better = all(sign * (b - a) < 0 for a in par for b in chg)
    worse_by = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    if win_frac >= 0.9 and -sign * (cmed - pmed) > (pq3 - pq1):
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by <= bound:
        v = "no-worse"
    else:
        v = "worse"
    return (pq1, pmed, pq3), (cq1, cmed, cq3), win_frac, worse_by, v


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(argv[1], 0), load(argv[2], 0)
    rc = 0
    print(f"{'workload':<15} {'metric':<13} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5} {'worse by':>9} verdict")
    for w in sorted(set(a) & set(b)):
        seeds = sorted(set(a[w]) & set(b[w]))
        for m in spec["end_to_end"]:
            name = m["name"]
            par = [r["metrics"][name]["value"] for r in a[w].values()]
            chg = [r["metrics"][name]["value"] for r in b[w].values()]
            pairs = [(a[w][s]["metrics"][name]["value"], b[w][s]["metrics"][name]["value"])
                     for s in seeds]
            p, c, wf, wb, v = verdict(par, chg, m["better"], m["bound"], pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:<15} {name:<13} {fmt(p):>30} {fmt(c):>30} "
                  f"{wf:>5.2f} {100 * wb:>8.1f}% {v}  (n={len(par)}/{len(chg)}, "
                  f"pairs={len(pairs)})")
            if v == "worse":
                rc = 1
    ta, tb = load(argv[1], 1), load(argv[2], 1)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in sorted(set(ta) & set(tb)):
        print(f"\n{w}: per-layer medians (traced runs)")
        for name, unit in units.items():
            pa = statistics.median(r["per_layer"][name]["value"] for r in ta[w].values())
            pb = statistics.median(r["per_layer"][name]["value"] for r in tb[w].values())
            if pa == 0 and pb == 0:
                continue
            if unit == "count":
                print(f"  {name:<40} {pa:>12.6g} -> {pb:<12.6g} ({pb - pa:+.6g} {unit})")
            else:
                ratio = f"x{pb / pa:.3f}" if pa else "n/a"
                print(f"  {name:<40} {pa:>12.6g} -> {pb:<12.6g} {unit:<6} {ratio}")
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv))
