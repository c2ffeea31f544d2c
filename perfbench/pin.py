#!/usr/bin/env python3
"""Pin expected outputs from full benchmark runs of a reference commit.

Usage: python3 perfbench/pin.py RESULT.json [RESULT.json ...]

Each RESULT.json is written by `run.py --full --keep RESULT.json`. Pass at
least two runs per scale factor, made with different seeds. For every query
the row count must agree across runs; the row digest is pinned only when it
agrees too, and is pinned as null (count checked, digest not) otherwise.
Queries that failed in any run are not pinned. Writes perfbench/expected.json,
keyed by the scale factor's directory name.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(paths):
    seen = {}
    for p in paths:
        with open(p) as fh:
            result = json.load(fh)["result"]
        label = os.path.basename(os.path.normpath(result["sf"]))
        for q in result["queries"]:
            seen.setdefault(label, {}).setdefault(q["name"], []).append(q)
    expected = {}
    for label, queries in sorted(seen.items()):
        pins = {}
        for name, runs in sorted(queries.items()):
            if any(r["error"] for r in runs):
                print(f"{label} {name}: failed in a run, not pinned")
                continue
            rows = {r["rows"] for r in runs}
            if len(rows) != 1:
                sys.exit(f"{label} {name}: row counts differ {sorted(rows)}")
            digests = {r["digest"] for r in runs}
            if len(runs) < 2:
                print(f"{label} {name}: only one run, digest unconfirmed")
            pins[name] = {"rows": rows.pop(),
                          "digest": digests.pop() if len(digests) == 1
                          else None}
        expected[label] = pins
        loose = sorted(n for n, p in pins.items() if p["digest"] is None)
        print(f"{label}: {len(pins)} pinned, digest varies for {loose}")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
