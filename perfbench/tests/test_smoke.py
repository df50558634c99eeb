"""Smoke check of the benchmark itself: a short traced pass of every
workload at sf0.001 must finish with zero errors and report every
metric BENCHMARK.json names; without the program the command must fail
without printing a result.

    python3 -m pytest perfbench/tests -q

Takes a few minutes: each workload starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
E2E = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["serve", "analytics", "curation", "ingest"])
def test_traced_pass_has_every_metric_and_no_errors(workload):
    proc = _run(workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == LAYERS
    assert result["metrics"]["error_rate"]["value"] == 0.0
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed1-trace1.json")) as f:
        record = json.load(f)
    assert set(record["e2e"]) == set(E2E)
    assert all(v > 0 for v in record["e2e"].values()), record["e2e"]
    for name in E2E:  # printed by name, with its unit
        assert f"{workload}: {name} = " in proc.stdout


def test_untraced_pass_prints_end_to_end_metrics():
    proc = _run("serve", trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "perfbench" / "run.py"), "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
