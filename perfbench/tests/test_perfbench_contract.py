"""BENCHMARK.json names exactly the metrics the runner prints."""

import json
import os

import run
from workloads import Sample

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_per_layer_metrics_match_the_traced_run():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    names = run.per_layer_names()
    assert len(names) == len(set(names))
    assert spec == {n: run._unit(n) for n in names}


def test_end_to_end_metrics_match_the_untraced_run():
    samples = [Sample(2.0, 100, True), Sample(4.0, 100, True), Sample(9.0, 100, False)]
    got = run._end_to_end(samples, setup_s=5.0)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert spec == {n: run._unit(n) for n in got}
    assert got == {"setup_s": 5.0, "op_p50_s": 3.0, "ops_per_s": 2 / 6.0,
                   "rows_per_s": 200 / 6.0}
    assert all(v > 0 for v in got.values())
