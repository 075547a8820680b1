"""BENCHMARK.json agrees with the metric catalogue and keeps to its limits."""

import json
import os

from perfbench.metrics import END_TO_END, NAME_RE, PER_LAYER, benchmark_json

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_plain():
    for name in [*END_TO_END, *PER_LAYER]:
        assert NAME_RE.match(name), name
    assert not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_the_catalogue():
    assert _bench() == benchmark_json()


def test_benchmark_json_limits():
    b = _bench()
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert len(b["per_layer"]) <= 128
    assert b["paths"] == ["perfbench"]
