#!/usr/bin/env python3
"""Diff two `graft.Tool plans` directories (one formatted physical plan
per query, `<query>.txt`) by plan SHAPE, not text: per query, count the
physical operators that determine scale behavior — join strategies, exchanges, sorts, scans,
whole-stage-codegen spans — and report queries whose shape changed
between the two scale factors (broadcast->SMJ flips, extra exchanges,
lost pushdown).

Usage: python3 tools/plandiff.py <plansDirA> <plansDirB>
Exit 0 always (informational); the human reads the diff.
"""
import collections, pathlib, re, sys

OPS = [
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "Exchange", "BroadcastExchange", "Sort", "TakeOrderedAndProject",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "Window", "Expand", "Generate", "Scan parquet",
]

def parse(path):
    plans = {f.stem: f.read_text() for f in sorted(pathlib.Path(path).glob("*.txt"))}
    out = {}
    for name, text in plans.items():
        sig = collections.OrderedDict()
        for op in OPS:
            # BroadcastExchange lines also contain "Exchange"; count plain
            # shuffles separately
            if op == "Exchange":
                n = len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)", text))
            else:
                n = text.count(op)
            if n:
                sig[op] = n
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", text))
        if pushed:
            sig["scans-with-pushdown"] = pushed
        out[name] = sig
    return out

def fmt(sig):
    return ", ".join(f"{k}={v}" for k, v in sig.items()) or "(empty)"

a, b = parse(sys.argv[1]), parse(sys.argv[2])
same = changed = 0
for name in a:
    if name not in b:
        print(f"{name}: only in {sys.argv[1]}")
        continue
    if a[name] == b[name]:
        same += 1
        continue
    changed += 1
    keys = [k for k in OPS + ["scans-with-pushdown"]
            if a[name].get(k, 0) != b[name].get(k, 0)]
    delta = ", ".join(f"{k}: {a[name].get(k,0)}->{b[name].get(k,0)}" for k in keys)
    print(f"{name}: {delta}")
for name in b:
    if name not in a:
        print(f"{name}: only in {sys.argv[2]}")
print(f"\n{same} identical plan shapes, {changed} changed")
