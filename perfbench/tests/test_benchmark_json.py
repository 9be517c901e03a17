"""BENCHMARK.json agrees with what perfbench/run.py prints, and keeps
to the benchmark file's shape rules."""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_top_level_keys_and_command():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"][0] == "python3"
    assert all(not a.startswith("/") and ".." not in a for a in b["command"])
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert all(os.path.isdir(os.path.join(ROOT, p)) for p in b["paths"])


def test_workloads_match_the_runner():
    b = load()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_the_runner():
    b = load()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == list(PER_LAYER.items())
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    largest = max(m["bound"] for m in b["end_to_end"])
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": largest}]
