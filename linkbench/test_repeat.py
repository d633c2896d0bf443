"""Checks on the benchmark itself.

    python3 -m pytest linkbench/test_repeat.py -q

For one seed, two traced runs must give exactly the same count metrics
(``*.rows_out``, ``*.jobs``), and two untraced runs exactly the same
``pairwise_f1``, so a later change can rest a claim on them. Each run
must print exactly the metrics that ``BENCHMARK.json`` declares. Each
workload runs four times (about ten minutes in all on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["link_batch", "stream_waves"]


def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("linkbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def _metrics(proc: subprocess.CompletedProcess, kind: str) -> dict:
    """Metric values of a passing run, after checking that their names and
    units are the ones ``BENCHMARK.json`` declares under ``kind``."""
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    return {k: v["value"] for k, v in result["metrics"].items()}


def _counts(proc: subprocess.CompletedProcess) -> dict:
    return {
        k: v
        for k, v in _metrics(proc, "per_layer").items()
        if k.endswith((".rows_out", ".jobs"))
    }


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_for_a_seed(workload):
    first = _counts(_run(ROOT, workload, 7, 1))
    assert any(v > 0 for k, v in first.items() if k.endswith(".jobs"))
    assert _counts(_run(ROOT, workload, 7, 1)) == first


@pytest.mark.parametrize("workload", WORKLOADS)
def test_quality_repeats_for_a_seed(workload):
    f1 = [_metrics(_run(ROOT, workload, 7, 0), "end_to_end")["pairwise_f1"] for _ in range(2)]
    assert f1[0] == f1[1] > 0


def test_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "linkbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "link_batch", 1, 0)
    assert proc.returncode != 0
    assert proc.stdout == ""
