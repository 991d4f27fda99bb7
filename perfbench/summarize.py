"""Summarise benchmark run records.

    python3 perfbench/summarize.py perfbench/out               # one set of runs
    python3 perfbench/summarize.py BASE_DIR CHANGE_DIR         # two commits

Reads the ``<workload>-seed<n>-trace0.json`` records that ``run.py`` writes
and prints, per workload and end-to-end metric, the number of runs, the
median, and the quartile spread (third minus first quartile over the
median) next to the metric's bound. Given a second directory it adds the
change's median relative to the base's and the share of seeds on which the
change did better (ties count for neither side).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict:
    """{workload: {metric: {seed: value}}} of the untraced records."""
    out: dict = defaultdict(lambda: defaultdict(dict))
    for path in glob.glob(os.path.join(directory, "*-trace0.json")):
        with open(path) as f:
            rec = json.load(f)
        for name, m in rec["metrics"].items():
            out[rec["workload"]][name][rec["seed"]] = m["value"]
    return out


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]
    base, change = load(argv[0]), (load(argv[1]) if len(argv) == 2 else None)
    for workload in sorted(base):
        print(f"== {workload}")
        for m in declared:
            runs = base[workload].get(m["name"])
            if not runs:
                continue
            vals = list(runs.values())
            med = statistics.median(vals)
            spread = f"{harness.quartile_spread(vals):.3f}" if len(vals) > 1 else "-"
            line = f"  {m['name']:26s} n={len(vals):2d} median={med:<11.5g} spread={spread} bound={m['bound']}"
            if change is not None and change[workload].get(m["name"]):
                other = change[workload][m["name"]]
                seeds = sorted(set(runs) & set(other))
                sign = 1 if m["better"] == "lower" else -1
                line += f"  change={statistics.median(other.values()) / med - 1:+.3f}"
                if seeds:
                    wins = harness.pair_win_frac([sign * other[s] for s in seeds], [sign * runs[s] for s in seeds])
                    line += f" change_wins={wins:.2f} of {len(seeds)}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
