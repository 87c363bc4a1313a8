"""Percentile selection and metric-name validity."""

import json
import os

import pytest

import layers
import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("n, want", [
    (0, None), (10, None), (19, None), (20, 50.0), (39, 50.0),
    (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
])
def test_tail_is_highest_percentile_with_ten_samples_above(n, want):
    xs = list(range(n, 0, -1))  # unsorted input
    got = stats.tail(xs)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(1 for x in xs if x > value) >= stats.MIN_ABOVE


def test_tail_value_is_nearest_rank():
    assert stats.tail(range(1, 21)) == (50.0, 10)
    assert stats.tail(range(1, 41)) == (75.0, 30)


def test_all_metric_names_and_units_are_valid_and_unique():
    specs = run.E2E_METRICS + run.E2E_DETAIL + layers.result_metrics() + layers.detail_metrics()
    names = [n for n, _ in specs]
    assert len(names) == len(set(names))
    for name, unit in specs:
        assert stats.valid_name(name), name
        assert stats.valid_unit(unit), (name, unit)


@pytest.mark.parametrize("name", ["a" * 65, "_x", "x y", "", "x/y"])
def test_invalid_names_are_rejected(name):
    assert not stats.valid_name(name)


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E_METRICS
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.result_metrics()
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
