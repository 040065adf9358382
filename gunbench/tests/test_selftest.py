"""Self-test of the benchmark in tiny mode (sf0.001, 1-2 rounds per workload).

    python3 -m pytest gunbench/tests -q

Each case starts its own Spark JVM (about 20-40 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, *extra: str, trace: int = 0, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_and_is_correct(workload, trace):
    res = _result(_run(workload, trace=trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    assert res["correct"] is True
    assert res["failed"] == 0
    assert res["attempted"] >= 1
    if trace:
        # every op's self times (its residual included) add up to the wall
        # time its caller read outside the tracer
        assert res["metrics"]["trace.reconcile_max_err_ms"]["value"] < 0.5


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expectation_flips_correct(workload):
    res = _result(_run(workload, "--corrupt"))
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
