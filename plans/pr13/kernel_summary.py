#!/usr/bin/env python3
"""Summarize TopKKernelBench output per id type: the median ns/row and
its spread (quartiles, min, max) over every timed repetition of each
side, then each run's median and the change/parent ratio of run i.

Usage: python3 kernel_summary.py kernel_pairs.txt
The input holds `# side <parent|change> run <i> <time>` headers, each
followed by that run's `kernel <ids> <rep> <ns/row>` lines."""
import statistics, sys

runs, key = {}, None
for line in open(sys.argv[1]):
    f = line.split()
    if f[:2] == ["#", "side"]:
        key = (f[2], int(f[4]))
    elif f and f[0] == "kernel":
        runs.setdefault((f[1],) + key, []).append(float(f[3]))
for ids in sorted({k[0] for k in runs}):
    for side in ("parent", "change"):
        xs = [x for (i, s, _), v in runs.items() if (i, s) == (ids, side) for x in v]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{ids:6s} {side:6s} n={len(xs):2d} median={med:7.2f} "
              f"q1={q1:7.2f} q3={q3:7.2f} min={min(xs):7.2f} max={max(xs):7.2f} ns/row")
    pairs = sorted(r for (i, s, r) in runs if i == ids and s == "parent"
                   and (ids, "change", r) in runs)
    ratios = []
    for r in pairs:
        p, c = (statistics.median(runs[(ids, s, r)]) for s in ("parent", "change"))
        ratios.append(c / p)
        print(f"  run {r}: parent {p:7.2f}  change {c:7.2f}  change/parent {c / p:.3f}")
    print(f"  median change/parent over {len(ratios)} pairs: {statistics.median(ratios):.3f}")
