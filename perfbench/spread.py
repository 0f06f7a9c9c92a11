#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's result lines.

    python3 perfbench/spread.py OUT_FILE...

Each OUT_FILE holds one run's stdout; its last line is the result line.
Prints, per metric, the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the quartile distance as a share
of the median, as a markdown table.
"""
import json
import statistics
import sys
from collections import defaultdict


def spreads(lines):
    values = defaultdict(list)
    for line in lines:
        for name, m in json.loads(line)["metrics"].items():
            values[name].append(m["value"])
    out = {}
    for name, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        out[name] = (med, q1, q3, (q3 - q1) / med if med else 0.0, len(vs))
    return out


def main(paths):
    lines = []
    for p in paths:
        with open(p) as f:
            lines.append(f.read().strip().splitlines()[-1])
    print("| metric | runs | median | q1 | q3 | (q3-q1)/median |")
    print("|---|---|---|---|---|---|")
    for name, (med, q1, q3, s, n) in spreads(lines).items():
        print("| %s | %d | %.6g | %.6g | %.6g | %.4f |" % (name, n, med, q1, q3, s))


if __name__ == "__main__":
    main(sys.argv[1:])
