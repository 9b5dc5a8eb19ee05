#!/usr/bin/env python3
"""Cross-run per-query medians over bench_archive full runs.

Usage: bench_medians.py <round> [--cpus N] [--baseline <round>]
Prints per-query medians for the round (filtered to runs tagged with the
given cpus; untagged legacy runs are listed but excluded), and with
--baseline a comparison table against the other round's medians, computed
the same way from its own bench_full archives.
"""
import json, glob, math, statistics, sys, argparse

p = argparse.ArgumentParser()
p.add_argument("round", type=int)
p.add_argument("--cpus", default="32")
p.add_argument("--baseline", type=int)
a = p.parse_args()


def medians(rnd, verbose):
    """Per-query medians over round `rnd`'s archived full runs at --cpus."""
    runs = []
    for f in sorted(glob.glob(f"bench_archive/bench_full_r{rnd:02d}_*.json")):
        d = json.load(open(f))
        tag = d.get("cpus")
        if verbose:
            note = "" if tag == a.cpus else f"  EXCLUDED (cpus={tag})"
            print(f"{f}: total={d['total_s']:.1f} calib={d['calibParSec']:.3f}{note}")
        if tag == a.cpus:
            runs.append(d["queries"])
    keys = sorted({k for r in runs for k in r})
    return len(runs), {k: statistics.median([r[k] for r in runs if k in r]) for k in keys}


n, med = medians(a.round, True)
print(f"{n} runs included")
if not n:
    sys.exit(0)
print(f"sum of per-query medians: {sum(med.values()):.1f} s over {len(med)} keys")

if a.baseline:
    n_base, base = medians(a.baseline, False)
    if not n_base:
        sys.exit(f"no r{a.baseline} runs at cpus={a.cpus} in bench_archive")
    rows = [(med[k] / base[k], base[k], med[k], k)
            for k in med if k in base and base[k] > 0.05]
    rows.sort()
    print(f"\nvs r{a.baseline} medians ({n_base} runs) — geomean ratio: ", end="")
    print(f"{math.exp(sum(math.log(r) for r, *_ in rows) / len(rows)):.3f}")
    print("biggest improvements:")
    for r, b, m, k in rows[:15]:
        print(f"  {r:5.2f}x  {b:5.2f} -> {m:5.2f}  {k}")
    print("biggest regressions:")
    for r, b, m, k in rows[-10:]:
        print(f"  {r:5.2f}x  {b:5.2f} -> {m:5.2f}  {k}")
    fam = {}
    for _, b, m, k in rows:
        f = k.split("_")[0].split(":")[0]
        s = fam.setdefault(f, [0.0, 0.0])
        s[0] += b; s[1] += m
    print("\nfamily sums (before -> after):")
    for f, (b, m) in sorted(fam.items(), key=lambda kv: kv[1][0] - kv[1][1], reverse=True):
        if b > 1.0:
            print(f"  {f:12s} {b:6.2f} -> {m:6.2f}")
