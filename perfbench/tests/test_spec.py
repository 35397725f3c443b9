import json
import os

import bench
import layers
import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_spec():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS)
    assert [m["name"] for m in b["end_to_end"]] == list(spec.E2E_MEANING)
    names = layers.per_layer_names(bench.ANALYTICS_QUERIES)
    assert [m["name"] for m in b["per_layer"]] == names
    assert all(m["unit"] == layers.unit_of(m["name"])
               and m["better"] == layers.better_of(m["name"]) for m in b["per_layer"])


def test_contract_limits():
    b = load()
    assert 1 <= len(b["per_layer"]) <= 128 and 2 <= len(b["workloads"]) <= 8
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25
    for w in b["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"] + b["per_layer"]:
        assert len(m["name"]) <= 64 and len(m["unit"]) <= 16
