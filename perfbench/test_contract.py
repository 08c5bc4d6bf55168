"""BENCHMARK.json and the metrics run.py prints must agree.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


def test_tail_percentile_leaves_ten_samples_above():
    assert run._tail([float(i) for i in range(100)]) == (89.0, 90.0)
    assert run._tail([float(i) for i in range(200)]) == (189.0, 95.0)
    # too few samples for ten above the 75th: the 75th itself
    assert run._tail([float(i) for i in range(20)]) == (14.0, 75.0)
