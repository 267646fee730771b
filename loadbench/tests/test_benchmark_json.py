import json
import os

from loadbench import metrics
from loadbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == {
        n: spec[0] for n, spec in metrics.END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == {
        n: spec[:2] for n, spec in metrics.LAYERS.items()
    }
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
