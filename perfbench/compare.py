#!/usr/bin/env python3
"""Compares two benchmark records (the JSON files run.py writes under
.bench_build/results/) metric by metric.

    python3 perfbench/compare.py before.json after.json

Refuses records taken at different cpu counts, or of different
workloads or modes: their numbers do not compare.
"""

import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    for key in ("nproc", "spark_graft_cpus", "workload", "trace"):
        if a["env"].get(key) != b["env"].get(key):
            print(f"refusing to compare: {key} differs "
                  f"({a['env'].get(key)} vs {b['env'].get(key)})", file=sys.stderr)
            return 1
    print(f"# {a['env']['workload']} at {a['env']['nproc']} cpus: "
          f"{a['env']['commit']} -> {b['env']['commit']}")
    for name, ma in a["metrics"].items():
        mb = b["metrics"].get(name)
        if mb is None:
            continue
        va, vb = ma["value"], mb["value"]
        change = f"{(vb - va) / abs(va) * 100:+.1f}%" if va else "n/a"
        print(f"{name:48s} {va:14.3f} {vb:14.3f} {ma['unit']:6s} {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
