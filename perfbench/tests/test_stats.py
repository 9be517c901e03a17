"""The benchmark's own metric maths (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.stats import Ledger, geomean, median, percentile, result_line  # noqa: E402
from perfbench.sparkstats import union_length  # noqa: E402


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert median([7.0]) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_geomean_weighs_every_value_alike():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    # doubling a light value moves it exactly as much as doubling a heavy one
    base = geomean([0.5, 50.0])
    assert geomean([1.0, 50.0]) == pytest.approx(geomean([0.5, 100.0]))
    assert geomean([1.0, 50.0]) == pytest.approx(base * math.sqrt(2))
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_ledger_counts_operations_and_checks():
    led = Ledger()
    assert not led.correct  # nothing attempted is not a pass
    led.record(True, "op")
    led.record(True, "op")
    led.check(False, "top-k equal")
    led.check(True, "no duplicates")
    assert (led.attempted, led.failed) == (4, 1)
    assert led.error_rate == 0.25
    assert not led.correct
    assert led.failures == ["check: top-k equal"]


def test_result_line_shape():
    led = Ledger()
    led.record(True)
    line = result_line(led, {"op_ms_p50": (12.345678901234, "ms"), "setup_s": (3, "s")})
    out = json.loads(line)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["correct"] is True and out["attempted"] == 1 and out["failed"] == 0
    assert out["metrics"]["op_ms_p50"] == {"value": 12.345678901234, "unit": "ms"}
    assert out["metrics"]["setup_s"] == {"value": 3.0, "unit": "s"}
    assert "\n" not in line


def test_result_line_without_attempts_reports_a_failure():
    out = json.loads(result_line(Ledger(), {}))
    assert out == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_result_line_rejects_non_finite():
    led = Ledger()
    led.record(True)
    with pytest.raises(ValueError):
        result_line(led, {"x": (float("nan"), "s")})


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert union_length([(0.0, 5.0), (1.0, 2.0)]) == pytest.approx(5.0)
