"""Metric maths shared by every workload: the median, the geometric
mean, failure accounting and the result-line shape.

Pure Python, no Spark: perfbench/tests/test_stats.py pins it.
"""

from __future__ import annotations

import json
import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default 'linear' rule),
    q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"q={q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values: every value weighs the same
    in log space, so a light operation that doubles counts as much as
    a heavy one that doubles."""
    if not values:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Ledger:
    """Failure accounting: every timed operation and every correctness
    check is one attempt; a raised error or a failed check is one
    failure. error_rate = failed / attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def check(self, cond: bool, what: str) -> bool:
        return self.record(bool(cond), f"check: {what}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


def result_line(ledger: Ledger, metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last stdout line: exactly correct / attempted /
    failed / metrics, each metric as {"value": number, "unit": str}.
    Values keep all their digits (no rounding)."""
    out = {
        "correct": ledger.correct,
        "attempted": int(max(ledger.attempted, 1)),
        "failed": int(ledger.failed if ledger.attempted else 1),
        "metrics": {},
    }
    for name, (value, unit) in metrics.items():
        v = float(value)
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"metric {name} is not finite: {value}")
        out["metrics"][name] = {"value": v, "unit": unit}
    return json.dumps(out, sort_keys=False)
