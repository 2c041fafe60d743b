#!/usr/bin/env python3
"""Summarize alternating `graft.Bench` runs: per side, the total and the
TopK queries (q38, q88, q118f) in every run, their median, and whether
the change's median lies inside the parent's min..max.

Usage: python3 bench_summary.py bench_pairs.txt
The input holds `# side <parent|change> run <i> <time>` headers, each
followed by that run's Bench JSON line."""
import json, statistics, sys

runs, side = {"parent": [], "change": []}, None
for line in open(sys.argv[1]):
    if line.startswith("# side"):
        side = line.split()[2]
    elif line.startswith("{"):
        runs[side].append(json.loads(line))
cols = [("total", lambda j: j["value"])] + [
    (q, lambda j, q=q: j["queries"][q])
    for q in ("q38_ann_bruteforce", "q88_pq_adc", "q118f_kmv_fast")]
for name, get in cols:
    p = [get(j) for j in runs["parent"]]
    c = [get(j) for j in runs["change"]]
    inside = min(p) <= statistics.median(c) <= max(p)
    print(f"{name:20s} parent {' '.join(f'{x:7.3f}' for x in p)} median {statistics.median(p):7.3f}"
          f" | change {' '.join(f'{x:7.3f}' for x in c)} median {statistics.median(c):7.3f}"
          f" | change median {'inside' if inside else 'OUTSIDE'} parent min..max")
failed = {s: sorted({q for j in v for q in j["failed"]}) for s, v in runs.items()}
print("failed queries:", failed)
