"""Live checks: every workload runs on the engine and reports its outputs
correct, and a perturbed expectation flips it to incorrect. Each case starts
a Spark session (about a minute); select with ``-k`` to run one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from cdcbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "cdcbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", "0", *extra],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_correct_on_engine(workload):
    res = _run(workload)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_perturbed_expectation_is_incorrect(workload):
    res = _run(workload, "--perturb")
    assert res["correct"] is False and res["failed"] >= 1
