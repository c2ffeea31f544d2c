#!/usr/bin/env python3
"""Summarise an interleaved A/B written by ab_lake_write.sh: per-query
median and min latency (ms) of the parent runs against this tree's runs,
plus the end-to-end metrics of every run. usage: summarize.py OUT_DIR"""
import glob
import json
import os
import statistics
import sys


def load(pattern):
    runs = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            runs.append(json.load(fh)["result"])
    return runs


def per_query(runs):
    out = {}
    for r in runs:
        for q in r["queries"]:
            out.setdefault(q["name"], []).append(q["latency_ms"])
    return out


out_dir = sys.argv[1]
a, b = load(os.path.join(out_dir, "parent_*.json")), load(
    os.path.join(out_dir, "pr_*.json"))
qa, qb = per_query(a), per_query(b)
print("%-28s %9s %9s %9s %9s %7s" % ("query", "A median", "B median",
                                      "A min", "B min", "B/A"))
for name in sorted(qa, key=lambda n: statistics.median(qb[n]) /
                   statistics.median(qa[n])):
    ma, mb = statistics.median(qa[name]), statistics.median(qb[name])
    print("%-28s %9.0f %9.0f %9.0f %9.0f %7.2f" % (
        name, ma, mb, min(qa[name]), min(qb[name]), mb / ma))
print("total (sum of medians) A %.0f ms, B %.0f ms" % (
    sum(statistics.median(v) for v in qa.values()),
    sum(statistics.median(v) for v in qb.values())))
for label, runs in (("A", a), ("B", b)):
    for r in runs:
        print(label, "seed", r["seed"], json.dumps(r["end_to_end"]))
