import json
import os
import re

from perfbench import metrics
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME_RX = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RX = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
            assert NAME_RX.fullmatch(name), name
            assert UNIT_RX.fullmatch(unit), unit
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_lists_what_the_benchmark_prints():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} \
        == metrics.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_report_fills_unreached_layers_with_zero():
    out = metrics.report({"route.write_s": 1.5}, metrics.PER_LAYER)
    assert out["route.write_s"] == {"value": 1.5, "unit": "s"}
    assert out["similarity.large_s"]["value"] == 0.0
    assert list(out) == list(metrics.PER_LAYER)
