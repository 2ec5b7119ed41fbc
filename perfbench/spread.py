"""Run-to-run spread of benchmark results.

    python3 perfbench/spread.py RUN_STDOUT_FILE...

Each file holds one run's stdout; its last line is the result object.
For every metric it prints the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread (q3 - q1) / median next
to the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(paths: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        if not result["correct"]:
            print(f"{path}: incorrect run ({result['failed']} failed rounds)")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = "" if bound is None else f"bound={bound} {'ok' if spread < bound / 3 else 'WIDE'}"
        print(
            f"{name:32s} n={len(vs):2d} median={med:<12.5g} q1={q1:<12.5g} "
            f"q3={q3:<12.5g} spread={spread:.3f} {flag}"
        )


if __name__ == "__main__":
    main(sys.argv[1:])
