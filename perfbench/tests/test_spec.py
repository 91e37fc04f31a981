import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    for n in names + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    for key in ("end_to_end", "per_layer"):
        for m in spec[key]:
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_workloads_match_the_runner():
    from perfbench.workloads import WORKLOADS

    assert tuple(w["name"] for w in _spec()["workloads"]) == WORKLOADS
