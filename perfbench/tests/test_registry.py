import json
import os
import re

from perfbench import layers
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_mirrors_the_registry():
    b = _bench()
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == \
        layers.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == \
        layers.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    bounds = [m["bound"] for m in b["end_to_end"]]
    assert all(0 < x <= 0.25 for x in bounds)
    assert setup[0]["bound"] == max(bounds)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
