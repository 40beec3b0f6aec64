"""Spread of benchmark runs: per metric, the median and the distance between
the first and third quartile as a share of the median.

    python3 perfbench/spread.py RUN_OUTPUT...

Each argument is a file holding one run's standard output; its last line is
the run's result. Runs are grouped by the workload named in their record.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict, dict]:
    with open(path) as fh:
        lines = fh.read().strip().splitlines()
    record = json.loads(lines[-2])["record"]
    return record["workload"], record, json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(paths: list[str]) -> int:
    runs: dict[str, list[tuple[dict, dict]]] = {}
    for p in paths:
        workload, record, result = load(p)
        runs.setdefault(workload, []).append((record, result))
    for workload, rs in sorted(runs.items()):
        bad = sum(not res["correct"] for _, res in rs)
        counts = {json.dumps(rec["counts"], sort_keys=True) for rec, _ in rs}
        print(f"{workload}: {len(rs)} runs, {bad} not correct, "
              f"{len(counts)} distinct count sets (seeds differ)")
        for name in rs[0][1]["metrics"]:
            vals = [res["metrics"][name]["value"] for _, res in rs]
            med, iqr = spread(vals)
            print(f"  {name:24s} median {med:12.4f}  iqr/median {iqr:.3f}  "
                  f"min {min(vals):.4f}  max {max(vals):.4f}")
        probes = [rec["host"]["before"]["cpu_probe_s"] for rec, _ in rs]
        print(f"  host cpu probe (before) min {min(probes):.3f} max {max(probes):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
