import json
import os

import layer_metrics
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_what_the_runs_print():
    doc = load()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == layer_metrics.PER_LAYER_UNITS
    assert all(w["name"] in workloads.WORKLOADS for w in doc["workloads"])
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_layer_table_names_only_benchmark_metrics():
    doc = load()
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        table = json.load(f)["layer_to_end_to_end"]
    listed = set()
    for row in table:
        for name in row["layers"]:
            listed |= {name.replace("<codec>", c) for c in layer_metrics.CODECS}
    per_layer = {m["name"] for m in doc["per_layer"]}
    assert listed <= per_layer
    assert not per_layer - listed - {m for m in per_layer if m.startswith(("trace.", "session."))}
