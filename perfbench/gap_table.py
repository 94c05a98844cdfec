#!/usr/bin/env python3
"""Driver-gap top-15 table from traced runs.

Usage: python3 perfbench/gap_table.py [trace.jsonl ...]

With no file names it reads every `.bench_build/out/*-trace1/trace.jsonl`.
For each query it sums, over all traced passes found, wall time, driver
gap (wall time not covered by any Spark job) and job count, and prints
the 15 queries with the largest driver-gap share as a markdown table.
"""
import glob
import json
import sys

TOP = 15


def main():
    files = sys.argv[1:] or sorted(glob.glob(".bench_build/out/*-trace1/trace.jsonl"))
    agg = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                s = agg.setdefault(r["query"], {"n": 0, "wall_ms": 0, "gap_ms": 0, "jobs": 0})
                s["n"] += 1
                s["wall_ms"] += r["wall_ms"]
                s["gap_ms"] += r["gap_ms"]
                s["jobs"] += len(r["jobs"])
    rows = sorted(agg.items(), key=lambda kv: -kv[1]["gap_ms"] / max(1, kv[1]["wall_ms"]))[:TOP]
    print("| query | runs | wall s | driver gap s | gap share | jobs |")
    print("|---|---:|---:|---:|---:|---:|")
    for q, s in rows:
        n = s["n"]
        print(f"| {q} | {n} | {s['wall_ms'] / 1e3 / n:.2f} | {s['gap_ms'] / 1e3 / n:.2f} "
              f"| {s['gap_ms'] / max(1, s['wall_ms']):.2f} | {s['jobs'] / n:.0f} |")


if __name__ == "__main__":
    main()
