"""Negative control: a deliberately wrong expected value must count as failed.

    python3 -m pytest perfbench/test_negative_control.py -q

Runs the first operation of each workload at sf0.001 with
``--negative-control`` (the expected value of the first checked operation
is altered) and no timed passes, and checks that the run reports that
operation as failed and the run as not correct.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("llm_curation", "lake_rw")


def run(workload: str, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--sf", "0.001", "--ops", "1",
         "--min-passes", "0", *extra],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_value_counts_as_failed(workload):
    result = run(workload, "--negative-control")
    assert result["failed"] == 1
    assert result["correct"] is False


def test_same_operation_passes_without_the_control():
    result = run("lake_rw")
    assert (result["attempted"], result["failed"], result["correct"]) == (1, 0, True)
