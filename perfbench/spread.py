#!/usr/bin/env python3
"""Spread of end-to-end metrics over several runs of one workload.

    python3 perfbench/spread.py OUT_FILE...

Each OUT_FILE holds the stdout of one ``run.py`` run; its last line is
the result. Prints, per metric, the median and the distance between the
first and third quartile as a share of the median, the figure a metric's
``bound`` in BENCHMARK.json must stay above.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> None:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as fh:
            result = json.loads(fh.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} n={len(xs):2d} median={med:12.4f} iqr/median={share:.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
