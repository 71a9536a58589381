#!/usr/bin/env python3
"""Compares two sets of benchmark records: a parent commit and a change.

Usage:
    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds record files as run.py writes them under
perfbench/.work/results/. For every workload and end-to-end metric it prints
both sides' median and quartiles, the fraction of pairs the change wins
(runs paired by seed, else in order; ties count for neither side), and a
verdict against the metric's bound in BENCHMARK.json:

  improved    the change wins at least 9 of 10 pairs and its median beats
              the parent's by more than the parent's quartile spread
  worse       the change's median is worse by more than the bound
  unchanged   neither, and both sides' spreads fit within the bound
  unresolved  neither, and a spread is wider than the bound (unless every
              change run beats every parent run, which reads improved)

Traced records add the per-layer counts, which should repeat exactly; each
is printed with its exact difference.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(d):
    out = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        out.setdefault((r["workload"], r["trace"]), []).append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(parent, change):
    by_seed = {r["seed"]: r for r in parent}
    matched = [(by_seed[r["seed"]], r) for r in change if r["seed"] in by_seed]
    return matched if matched else list(zip(parent, change))


def verdict(pv, cv, wins, n_pairs, bound, lower):
    sign = 1 if lower else -1  # positive gap = change better
    q1p, mp, q3p = quartiles(pv)
    q1c, mc, q3c = quartiles(cv)
    gap = sign * (mp - mc)
    if n_pairs and wins >= 0.9 * n_pairs and gap > (q3p - q1p):
        return "improved"
    if -gap > bound * mp:
        return "worse"
    if (q3p - q1p) <= bound * mp and (q3c - q1c) <= bound * mc:
        return "unchanged"
    if all(sign * (p - c) > 0 for p in pv for c in cv):
        return "improved"
    return "unresolved"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({w for w, _ in parent} & {w for w, _ in change})
    print(f"{'workload':9s} {'metric':17s} {'parent q1/med/q3':>27s} "
          f"{'change q1/med/q3':>27s} {'wins':>7s} {'bound':>6s}  verdict")
    for wl in workloads:
        P, C = parent.get((wl, 0), []), change.get((wl, 0), [])
        prs = pairs(P, C)
        for name, m in bounds.items():
            pv = [r["end_to_end"][name] for r in P]
            cv = [r["end_to_end"][name] for r in C]
            if not pv or not cv:
                continue
            lower = m["better"] == "lower"
            wins = sum(1 for a, b in prs
                       if (b["end_to_end"][name] < a["end_to_end"][name]) == lower
                       and b["end_to_end"][name] != a["end_to_end"][name])
            v = verdict(pv, cv, wins, len(prs), m["bound"], lower)
            fp = "/".join(f"{x:.4g}" for x in quartiles(pv))
            fc = "/".join(f"{x:.4g}" for x in quartiles(cv))
            print(f"{wl:9s} {name:17s} {fp:>27s} {fc:>27s} {wins:3d}/{len(prs):<3d} "
                  f"{m['bound']:6.2f}  {v}")
    for wl in workloads:
        P, C = parent.get((wl, 1), []), change.get((wl, 1), [])
        if not P or not C:
            continue
        print(f"\n{wl}: per-layer counts (traced runs: parent {len(P)}, change {len(C)})")
        for k, (_, unit) in P[0]["per_layer"].items():
            if unit != "count" and not k.startswith("shuffle."):
                continue
            pv = sorted({r["per_layer"][k][0] for r in P})
            cv = sorted({r["per_layer"][k][0] for r in C})
            exact = len(pv) == 1 and len(cv) == 1
            diff = f"{cv[0] - pv[0]:+g}" if exact else "varies between runs"
            print(f"  {k:26s} {'/'.join(f'{x:g}' for x in pv):>14s} -> "
                  f"{'/'.join(f'{x:g}' for x in cv):<14s} {diff}")


if __name__ == "__main__":
    main()
