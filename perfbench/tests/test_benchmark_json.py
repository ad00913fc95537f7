import json
import os

import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_workloads_are_the_runnable_ones():
    assert {w["name"] for w in _benchmark()["workloads"]} == set(run.WORKLOADS)


def test_declared_per_layer_metrics_are_the_traced_run_metrics():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == tracing.PER_LAYER


def test_declared_end_to_end_metrics():
    names = {m["name"] for m in _benchmark()["end_to_end"]}
    assert names == {"setup_s", "pass_s", "query_geomean_s", "ok_frac"}
