#!/usr/bin/env python3
"""Median and quartile spread of each metric over several runs.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 layerbench/run.py --workload ine_pipeline --seed $s --seconds 10 --trace 0 \\
        > .layerbench_work/ine.$s.out
    done
    python3 layerbench/summarize.py .layerbench_work/ine.*.out

Each file holds one run's stdout; its last line is the result. The spread is
(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    incorrect = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        incorrect += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    print(f"{len(paths)} runs, {incorrect} not correct")
    for name, v in values.items():
        med = stats.median(v)
        spread = stats.quartile_spread(v) if len(v) > 1 and med else 0.0
        print(f"{name:40s} {med:12.4f} {units[name]:6s} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
