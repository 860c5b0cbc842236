#!/usr/bin/env python3
"""Compares benchmark result sets.

A result set is a directory of the run records perfbench/run.py keeps in
.bench_build/results/ (copy them aside after measuring each commit).

  compare.py diff BASE_DIR NEW_DIR
      Per workload and metric: each side's median and quartiles, the change
      of the median against the metric's bound in BENCHMARK.json, and the
      pairs NEW won (runs paired by seed, ties count for neither). A gain is
      claimed only when NEW wins at least 9 of 10 pairs and the medians
      differ by more than BASE's own quartile spread. Then every per-layer
      count that changed between the traced runs.

  compare.py overhead DIR
      Tracing overhead per workload (median traced warm_pass_s divided by
      median untraced warm_pass_s) and the non-zero per-layer metrics that
      repeat exactly across the traced runs of one seed.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        if "metrics" in r:
            runs.append(r)
    return runs


def spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m for m in b["end_to_end"]},
            {m["name"]: m for m in b["per_layer"]})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by(runs, trace):
    out = {}
    for r in runs:
        if bool(r["trace"]) == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def diff(base_dir, new_dir):
    e2e, layers = spec()
    base, new = load(base_dir), load(new_dir)
    print("workload        metric          base q1/med/q3                 "
          "new q1/med/q3                  change  bound   pairs won  verdict")
    b_un, n_un = by(base, False), by(new, False)
    for wl in sorted(set(b_un) & set(n_un)):
        for name, m in e2e.items():
            bs = {r["seed"]: r["metrics"][name]["value"] for r in b_un[wl]}
            ns = {r["seed"]: r["metrics"][name]["value"] for r in n_un[wl]}
            bq, nq = quartiles(list(bs.values())), quartiles(list(ns.values()))
            lower = m["better"] == "lower"
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            worse = change if lower else -change
            seeds = sorted(set(bs) & set(ns))
            won = sum((ns[s] < bs[s]) if lower else (ns[s] > bs[s]) for s in seeds)
            spread = bq[2] - bq[0]
            if worse > m["bound"]:
                verdict = "REGRESSED"
            elif (seeds and won >= 0.9 * len(seeds)
                  and abs(nq[1] - bq[1]) > spread and worse < 0):
                verdict = "gain"
            elif spread / bq[1] > m["bound"] if bq[1] else False:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"{wl:<15} {name:<15} {bq[0]:9.4g}/{bq[1]:9.4g}/{bq[2]:9.4g}  "
                  f"{nq[0]:9.4g}/{nq[1]:9.4g}/{nq[2]:9.4g}  {change:+7.1%} "
                  f"{m['bound']:5.0%}  {won:3d}/{len(seeds):<3d}    {verdict}")
    b_tr, n_tr = by(base, True), by(new, True)
    for wl in sorted(set(b_tr) & set(n_tr)):
        changed = []
        for name in layers:
            bv = statistics.median(r["metrics"][name]["value"] for r in b_tr[wl])
            nv = statistics.median(r["metrics"][name]["value"] for r in n_tr[wl])
            if bv != nv and layers[name]["unit"] == "count":
                changed.append(f"{name}: {bv:g} -> {nv:g}")
        print(f"{wl}: {len(changed)} per-layer counts changed")
        for c in changed:
            print("  " + c)


def overhead(d):
    _, layers = spec()
    runs = load(d)
    un, tr = by(runs, False), by(runs, True)
    warm = lambda r: statistics.median(metrics.warm_passes(r))
    for wl in sorted(set(un) | set(tr)):
        if wl in un and wl in tr:
            o = (statistics.median(map(warm, tr[wl])) /
                 statistics.median(map(warm, un[wl])))
            print(f"{wl}: tracing overhead {o:.3f} (traced warm_pass_s / "
                  f"untraced, {len(tr[wl])} traced, {len(un[wl])} untraced runs)")
        seeds = {}
        for r in tr.get(wl, []):
            seeds.setdefault(r["seed"], []).append(r)
        for seed, rs in sorted(seeds.items()):
            if len(rs) < 2:
                continue
            vals = {n: {r["metrics"][n]["value"] for r in rs} for n in layers}
            same = [n for n, v in vals.items() if len(v) == 1 and v != {0}]
            idle = sum(v == {0} for v in vals.values())
            print(f"{wl} seed {seed}: {len(same)} of {len(layers)} per-layer "
                  f"metrics repeat exactly across {len(rs)} traced runs "
                  f"({idle} more read 0, their layer idle here):")
            print("  " + ", ".join(same))


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "diff":
        diff(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "overhead":
        overhead(sys.argv[2])
    else:
        sys.exit(__doc__)
