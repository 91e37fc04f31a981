"""Tiny-size end-to-end runs of every workload, traced and untraced."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the command line with the corpus cut to 400 pages
TINY = """
import sys
import perfbench.workloads
perfbench.workloads.N_DOCS = dict.fromkeys(perfbench.workloads.WORKLOADS, 400)
from perfbench import run
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(res["metrics"]) == sorted(want)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
