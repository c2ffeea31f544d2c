#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/spread.py [--seeds 1-10] [--trace] [--out FILE]
                                   WORKLOAD...

Runs run.py once per seed on each workload (run_seconds from BENCHMARK.json)
and prints each run's metrics and elapsed time (run_s), then per end-to-end
metric the median and the spread (Q3 - Q1) / median, quartiles from
statistics.quantiles(n=4), next to the metric's bound. With --trace the runs
are traced and the per-layer metrics are summarised (median and quartiles).
--out saves every run's values and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", action="store_true",
                    help="traced runs; summarise the per-layer metrics")
    ap.add_argument("--out")
    a = ap.parse_args()
    kind = "per_layer" if a.trace else "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    report = {}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(int(a.trace))], cwd=ROOT, capture_output=True,
                text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{out.stderr[-2000:]}")
            line = json.loads(out.stdout.splitlines()[-1])
            if not line["correct"]:
                print(out.stdout, file=sys.stderr)
            runs.append({"seed": s, "correct": line["correct"],
                         "run_s": time.monotonic() - t0,
                         **{k: v["value"] for k, v in line["metrics"].items()}})
            print(w, s, {k: round(v, 3) for k, v in runs[-1].items()
                         if isinstance(v, float)}, flush=True)
        summary = {}
        for m in spec[kind]:
            vals = [r[m["name"]] for r in runs]
            q1, med, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                           else vals * 3)
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3}
            if med and "bound" in m:
                summary[m["name"]].update(spread=(q3 - q1) / med,
                                          bound=m["bound"])
                print(f"  {w} {m['name']}: median {med:.4g} spread "
                      f"{(q3 - q1) / med:.3f} (bound {m['bound']})")
        report[w] = {"runs": runs, "summary": summary}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
