#!/usr/bin/env python3
"""Per-layer totals and self times from a traced run's span file.

    python3 etlbench/spans.py etlbench/.out/trace-etl_tail-seed1.json

A span's self time is its duration minus the part of it that its child
spans cover (children's intervals merged first, so overlapping children
are not counted twice). Rows are per span name, summed over every span
of that name in the run.
"""
import json
import sys
from collections import defaultdict


def covered(start, end, kids):
    """Length of [start, end] covered by the union of the kids' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(k["start_ms"], start), min(k["end_ms"], end))
                       for k in kids):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def main():
    spans = json.load(open(sys.argv[1]))
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rows = defaultdict(lambda: [0, 0.0, 0.0, 0])
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        r = rows[s["name"]]
        r[0] += 1
        r[1] += dur
        r[2] += dur - covered(s["start_ms"], s["end_ms"], kids[s["id"]])
        r[3] += s.get("jobs", 0)
    print(f"{'span':32s} {'count':>6s} {'total_ms':>10s} {'self_ms':>10s} {'jobs':>6s}")
    for name, (n, tot, own, jobs) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:32s} {n:6d} {tot:10.1f} {own:10.1f} {jobs:6d}")


if __name__ == "__main__":
    main()
