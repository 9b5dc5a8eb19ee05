#!/usr/bin/env python3
"""Cross-run per-query medians over bench_archive full runs.

Usage: bench_medians.py <round> [--cpus N] [--baseline <round>]
Prints per-query medians for the round (filtered to runs tagged with the
given cpus; untagged legacy runs are listed but excluded), and a
comparison table against another round's summary for the same core count
when --baseline is given.
"""
import json, glob, statistics, sys, argparse

p = argparse.ArgumentParser()
p.add_argument("round", type=int)
p.add_argument("--cpus", default="32")
p.add_argument("--baseline", type=int)
a = p.parse_args()

runs = []
for f in sorted(glob.glob(f"bench_archive/bench_full_r{a.round:02d}_*.json")):
    d = json.load(open(f))
    tag = d.get("cpus")
    note = "" if tag == a.cpus else f"  EXCLUDED (cpus={tag})"
    print(f"{f}: total={d['total_s']:.1f} calib={d['calibParSec']:.3f}{note}")
    if tag == a.cpus:
        runs.append(d["queries"])
print(f"{len(runs)} runs included")
if not runs:
    sys.exit(0)
keys = sorted({k for r in runs for k in r})
med = {k: statistics.median([r[k] for r in runs if k in r]) for k in keys}
print(f"sum of per-query medians: {sum(med.values()):.1f} s over {len(keys)} keys")

if a.baseline:
    # same name graft.Bench writes: non-32-core rounds carry a cpus suffix
    suffix = "" if a.cpus == "32" else f"_cpus{a.cpus}"
    base = json.load(open(
        f"bench_archive/bench_round_r{a.baseline:02d}_summary{suffix}.json"))["queries"]
    rows = [(med[k] / base[k]["median"], base[k]["median"], med[k], k)
            for k in keys if k in base and base[k]["median"] > 0.05]
    rows.sort()
    print(f"\nvs r{a.baseline} medians — geomean ratio: ", end="")
    import math
    print(f"{math.exp(sum(math.log(r) for r, *_ in rows) / len(rows)):.3f}")
    print("biggest improvements:")
    for r, b, n, k in rows[:15]:
        print(f"  {r:5.2f}x  {b:5.2f} -> {n:5.2f}  {k}")
    print("biggest regressions:")
    for r, b, n, k in rows[-10:]:
        print(f"  {r:5.2f}x  {b:5.2f} -> {n:5.2f}  {k}")
    fam = {}
    for _, b, n, k in rows:
        f = k.split("_")[0].split(":")[0]
        s = fam.setdefault(f, [0.0, 0.0])
        s[0] += b; s[1] += n
    print("\nfamily sums (before -> after):")
    for f, (b, n) in sorted(fam.items(), key=lambda kv: kv[1][0] - kv[1][1], reverse=True):
        if b > 1.0:
            print(f"  {f:12s} {b:6.2f} -> {n:6.2f}")
