#!/usr/bin/env python3
"""Summarise one set of benchmark records, or diff two sets layer by layer.

    python3 perfbench/diff.py base.jsonl               # medians and spreads
    python3 perfbench/diff.py base.jsonl head.jsonl    # head against base

A record file holds the JSON lines `run.py --record FILE` appends, one
per run. Runs are grouped by workload and by traced/untraced; for each
metric the script prints the median, the quartile spread
((q3 - q1) / median) and, given two sets, the change of the median.
Traced runs give the per-layer metrics, so a diff of two traced sets shows
which layer moved.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    groups = defaultdict(lambda: defaultdict(list))
    for line in open(path):
        if not line.strip():
            continue
        r = json.loads(line)
        g = (r["workload"], "layers" if r["trace"] else "end-to-end")
        for k, m in r["metrics"].items():
            groups[g][k].append(m["value"])
        groups[g]["failed_share"].append(r["failed"] / r["attempted"])
    return groups


def stats(vals):
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, float("nan")
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base = load(argv[1])
    head = load(argv[2]) if len(argv) == 3 else None
    for g in sorted(base):
        n = len(next(iter(base[g].values())))
        print(f"== {g[0]} ({g[1]}, {n} runs"
              + (f" vs {len(next(iter(head[g].values())))}" if head and g in head else "") + ")")
        for k in sorted(base[g]):
            med, spread = stats(base[g][k])
            line = f"  {k:42} {med:14.6g}  spread {spread:6.1%}"
            if head and k in head.get(g, {}):
                hmed, hspread = stats(head[g][k])
                change = (hmed - med) / med if med else float("nan")
                line += f"  -> {hmed:14.6g}  spread {hspread:6.1%}  change {change:+7.1%}"
            print(line)


if __name__ == "__main__":
    main(sys.argv)
