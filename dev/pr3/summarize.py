#!/usr/bin/env python3
"""Summarise an interleaved A/B written by ab.sh.

Prints, per end-to-end metric, the parent (A) and change (B) medians, the
parent's interquartile range, and how many same-seed pairs B won; then the
per-query median latencies; then, for traced runs, the stream.* and sched.*
per-layer metrics. usage: summarize.py OUT_DIR"""
import glob
import json
import os
import statistics
import sys


def load(out_dir, label):
    runs = {}
    for path in glob.glob(os.path.join(out_dir, label + "_*.json")):
        with open(path) as fh:
            kept = json.load(fh)
        r = kept["result"]
        r["failed"] = len(kept["failures"])
        runs[r["seed"]] = r
    return runs


def metric(r, name):
    v = r["end_to_end"].get(name, r.get("per_layer", {}).get(name))
    return v["value"] if isinstance(v, dict) else v


out_dir = sys.argv[1]
a, b = load(out_dir, "parent"), load(out_dir, "pr")
seeds = sorted(set(a) & set(b))
print("pairs: %d (seeds %s)" % (len(seeds), ", ".join(map(str, seeds))))
print("%-14s %10s %10s %8s %10s %6s" % ("metric", "A median", "B median",
                                        "B/A", "A IQR", "B won"))
for name in ("wall_s", "query_p50_ms", "setup_s", "cpu_s", "peak_rss_mb"):
    va = [metric(a[s], name) for s in seeds]
    vb = [metric(b[s], name) for s in seeds]
    q1, _, q3 = statistics.quantiles(va, n=4) if len(va) > 1 else (0, 0, 0)
    ma, mb = statistics.median(va), statistics.median(vb)
    won = sum(y < x for x, y in zip(va, vb))
    print("%-14s %10.2f %10.2f %8.3f %10.2f %3d/%d" % (
        name, ma, mb, mb / ma, q3 - q1, won, len(seeds)))
print("failed queries: A %d, B %d" % (sum(a[s]["failed"] for s in seeds),
                                      sum(b[s]["failed"] for s in seeds)))

lat_a, lat_b = {}, {}
for runs, lat in ((a, lat_a), (b, lat_b)):
    for s in seeds:
        for q in runs[s]["queries"]:
            lat.setdefault(q["name"], []).append(q["latency_ms"])
print("\n%-28s %9s %9s %6s" % ("query", "A median", "B median", "B/A"))
for name in sorted(lat_a, key=lambda n: statistics.median(lat_b[n]) /
                   statistics.median(lat_a[n])):
    ma, mb = statistics.median(lat_a[name]), statistics.median(lat_b[name])
    print("%-28s %9.0f %9.0f %6.2f" % (name, ma, mb, mb / ma))

traced = [s for s in seeds if a[s].get("per_layer") and b[s].get("per_layer")]
if traced:
    print("\nper layer, median over %d traced pairs" % len(traced))
    keys = sorted(k for k in a[traced[0]]["per_layer"]
                  if k.startswith(("stream.", "sched.")))
    for k in keys:
        ma = statistics.median(metric(a[s], k) for s in traced)
        mb = statistics.median(metric(b[s], k) for s in traced)
        print("%-28s %12.1f %12.1f" % (k, ma, mb))
