#!/usr/bin/env python3
"""Compare two benchmark result files (.bench_work/results/*.json).

Usage: python3 perfbench/compare.py BASE.json NEW.json

Refuses, with a message and exit code 2, a pair whose workload, trace
mode, cpus, seed or input size differ, and any file that does not parse
or lacks its run metadata: a broken baseline is an error, never an empty
one.  Otherwise prints each metric of both runs with the new/base ratio,
marks end-to-end metrics that got worse by more than their bound in
BENCHMARK.json, and exits 1 if any did.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MUST_MATCH = ("workload", "trace", "cpus", "seed", "input")


class Refused(Exception):
    pass


def load(path):
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError) as e:
        raise Refused(f"{path}: unreadable result file ({e})")
    if not isinstance(doc, dict) or not isinstance(doc.get("meta"), dict) \
            or not isinstance(doc.get("metrics"), dict) or not doc["metrics"]:
        raise Refused(f"{path}: not a result file (needs meta and metrics)")
    missing = [k for k in MUST_MATCH if k not in doc["meta"]]
    if missing:
        raise Refused(f"{path}: metadata lacks {missing}")
    return doc


def compare(base, new, bounds):
    for k in MUST_MATCH:
        if base["meta"][k] != new["meta"][k]:
            raise Refused(f"runs differ in {k}: {base['meta'][k]!r} vs "
                          f"{new['meta'][k]!r}; not comparable")
    worse = []
    lines = []
    for name in sorted(set(base["metrics"]) | set(new["metrics"])):
        if name not in base["metrics"] or name not in new["metrics"]:
            raise Refused(f"metric {name} is missing from one of the runs")
        b = base["metrics"][name]["value"]
        n = new["metrics"][name]["value"]
        ratio = n / b if b else float("nan")
        mark = ""
        if name in bounds:
            better, bound = bounds[name]
            change = (n - b) / b if b else 0.0
            if (better == "lower" and change > bound) or \
                    (better == "higher" and -change > bound):
                mark = f"  WORSE than bound {bound}"
                worse.append(name)
        lines.append(f"{name:32s} {b:>14.6g} {n:>14.6g}  x{ratio:.3f}{mark}")
    return lines, worse


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        base, new = load(argv[1]), load(argv[2])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bounds = {m["name"]: (m["better"], m["bound"])
                      for m in json.load(f)["end_to_end"]}
        lines, worse = compare(base, new, bounds)
    except Refused as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'base':>14s} {'new':>14s}")
    print("\n".join(lines))
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
