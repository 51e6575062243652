import json
import os

from perfbench import metrics
from perfbench.run import WORKLOADS

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json")


def test_benchmark_json_matches_the_catalogue():
    with open(BENCHMARK) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
