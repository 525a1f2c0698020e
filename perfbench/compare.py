"""Compare two sets of benchmark records, workload by workload.

Usage::

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds records that ``perfbench/run.py`` appended to
``.perfbench/results.jsonl``. For every workload and end-to-end metric
this prints both medians, their ratio and each side's quartile spread
(IQR over median). Records made with different usable CPU counts are
not comparable, so the script refuses them.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[str, list[dict]]:
    by_workload = defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if not rec["trace"]:
                by_workload[rec["workload"]].append(rec)
    return by_workload


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cpus = {r["env"]["cpus"] for recs in (*base.values(), *new.values())
            for r in recs}
    if len(cpus) > 1:
        print(f"refusing to compare records made with cpus {sorted(cpus)}",
              file=sys.stderr)
        return 2
    print("workload  metric  base_median  new_median  new/base  "
          "base_spread  new_spread  runs")
    for workload in sorted(set(base) & set(new)):
        for metric in base[workload][0]["end_to_end"]:
            b = [r["end_to_end"][metric] for r in base[workload]]
            n = [r["end_to_end"][metric] for r in new[workload]]
            mb, mn = statistics.median(b), statistics.median(n)
            print(f"{workload}  {metric}  {mb:.4f}  {mn:.4f}  {mn / mb:.3f}  "
                  f"{spread(b):.3f}  {spread(n):.3f}  {len(b)}/{len(n)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
