"""Smoke: every workload end to end, through the benchmark command, on
inputs derived from the small ``sf0.001`` base. Each run starts Spark,
so the test takes a few minutes.

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from run import END_TO_END_UNITS, PER_LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--base", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_and_checks_clean(workload):
    res = _run(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 2 * len(WORKLOADS[workload]["queries"])
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_every_layer():
    m = _run("reference_batch", trace=1)["metrics"]
    assert set(m) == set(PER_LAYER_UNITS)
    assert m["operators.jobs"]["value"] > 0
    assert m["functions.python_rows_returned"]["value"] == 0
    assert m["streaming.batches"]["value"] == 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         "reference_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
