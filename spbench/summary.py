"""Summarise recorded benchmark runs.

    python3 spbench/summary.py [results.jsonl ...]

Reads the records ``run.py`` appends to ``.spbench_work/results.jsonl``
(or the files given) and prints, per workload and trace mode, every
metric with its unit, median, quartiles, inter-quartile spread as a
share of the median and run count, plus the runs' correctness and the
most expensive layers the traced runs named.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import spread  # noqa: E402

DEFAULT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spbench_work", "results.jsonl")


def load(paths: list[str]) -> list[dict]:
    records = []
    for path in paths:
        with open(path) as f:
            records.extend(json.loads(line) for line in f if line.strip())
    return records


def summarise(records: list[dict]) -> str:
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for r in records:
        groups[(r["workload"], r["trace"])].append(r)
    lines = []
    for (workload, trace), runs in sorted(groups.items()):
        ok = sum(1 for r in runs if r.get("correct"))
        failed = sum(r.get("failed", 0) for r in runs)
        attempted = sum(r.get("attempted", 0) for r in runs)
        lines.append(
            f"== {workload} trace={trace}: {len(runs)} runs, {ok} correct, "
            f"{failed} of {attempted} ops failed"
        )
        lines.append(f"   {'metric':<34} {'unit':<7} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'n':>3}")
        values: dict[str, list[float]] = defaultdict(list)
        units: dict[str, str] = {}
        for r in runs:
            for name, m in r["metrics"].items():
                values[name].append(m["value"])
                units[name] = m["unit"]
        for name in values:
            s = spread(values[name])
            lines.append(
                f"   {name:<34} {units[name]:<7} {s['median']:>14.6g} {s['q1']:>14.6g} "
                f"{s['q3']:>14.6g} {s['spread']:>8.2%} {s['n']:>3}"
            )
        tops = Counter(tuple(r["top_layers"]) for r in runs if r.get("top_layers"))
        if tops:
            top, n = tops.most_common(1)[0]
            lines.append(f"   most expensive layers ({n} of {len(runs)} runs): {', '.join(top)}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    paths = argv or [DEFAULT]
    print(summarise(load(paths)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
