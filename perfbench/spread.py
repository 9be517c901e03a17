"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py RESULTS.jsonl [more.jsonl ...]

Each input line holds one run's result line (the JSON object the
benchmark prints last). For every metric this prints the median, the
quartiles (statistics.quantiles(values, n=4)) and the spread: the
distance between the quartiles as a share of the median. Compare the
spread with the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(results: list[dict]) -> dict[str, dict]:
    by_metric: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            by_metric.setdefault(name, []).append(float(m["value"]))
    out = {}
    for name, vals in by_metric.items():
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[name] = {
            "n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"),
        }
    return out


def main(paths: list[str]) -> int:
    results = []
    for p in paths:
        with open(p) as f:
            results += [json.loads(line) for line in f if line.strip().startswith("{")]
    bad = sum(1 for r in results if not r["correct"])
    print(f"{len(results)} runs, {bad} not correct")
    for name, s in spreads(results).items():
        print(f"{name:32s} n={s['n']:2d} median={s['median']:.6g} "
              f"q1={s['q1']:.6g} q3={s['q3']:.6g} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
