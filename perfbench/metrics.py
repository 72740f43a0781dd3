"""Summary statistics and the result line of the benchmark.

Kept free of Spark so the rules can be tested on their own.
"""

from __future__ import annotations

import json
import os
import statistics

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With n sorted samples the (n - 10)/n quantile has exactly ten
    samples above it, so its value is the 11th largest sample. Returns
    (value, percentile, samples beyond). A run with ten samples or
    fewer has no such percentile; it reports its maximum, as the 100th
    percentile with no samples beyond."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, 0
    k = n - TAIL_BEYOND - 1
    return s[k], 100.0 * (k + 1) / n, n - k - 1


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def result_line(spec: dict, trace: bool, values: dict[str, float],
                attempted: int, failed: int, correct: bool) -> str:
    """The last stdout line: every metric BENCHMARK.json declares for
    this mode, by name with its unit, and no other."""
    declared = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in declared]
    missing = [n for n in names if n not in values]
    extra = sorted(set(values) - set(names))
    if missing or extra:
        raise KeyError(f"metrics missing {missing}, undeclared {extra}")
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in declared}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
