"""Steadiness of a set of runs: per workload and metric, the median and the
interquartile range as a share of the median.

    python3 pipebench/spread.py RUN_OUTPUT...

Each argument is the saved standard output of one ``run.py`` invocation.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(paths):
    by = defaultdict(lambda: defaultdict(list))
    for path in paths:
        with open(path) as f:
            lines = f.read().splitlines()
        info = next(json.loads(line[len("# info ") :]) for line in lines if line.startswith("# info "))
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            by[info["workload"]][name].append(m["value"])
    return by


def spread(values) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main(argv) -> int:
    for workload, metrics in sorted(load(argv).items()):
        for name, values in metrics.items():
            med, iqr = spread(values)
            print(f"{workload:<18} {name:<14} n={len(values):<3} median={med:<12.6g} iqr/median={iqr:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
