"""Engine benchmark: seeded crawl and serve workloads run through the
engine's public entry points, with correctness checks, untraced
end-to-end metrics and a traced per-module breakdown.

Run from the repository root::

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

See perfbench/TRACE.md for how to read a traced run.
"""
