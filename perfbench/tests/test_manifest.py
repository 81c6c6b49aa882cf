"""BENCHMARK.json names exactly the metrics the runs print."""

import json
import os

import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match():
    got = [(m["name"], m["unit"]) for m in _manifest()["end_to_end"]]
    assert got == list(run.END_TO_END)


def test_per_layer_metrics_match():
    got = [(m["name"], m["unit"]) for m in _manifest()["per_layer"]]
    assert got == tracing.per_layer_names()
    assert len(got) <= 128


def test_workloads_match():
    import workloads

    assert [w["name"] for w in _manifest()["workloads"]] == list(workloads.WORKLOADS)
