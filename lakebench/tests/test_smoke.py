"""Toy-size runs of every workload through the command line, traced and
untraced, checked against the metric names BENCHMARK.json declares; and
the refusal to run where the package is missing.

Each run starts its own Spark session (~1 min); run with
    python -m pytest lakebench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def run(tmp_path, workload, trace, cwd=REPO, seconds="1"):
    cmd = [sys.executable, os.path.join(cwd, "lakebench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", seconds, "--trace", str(trace), "--size", "toy",
           "--work-dir", str(tmp_path / "work")]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_toy_run_prints_every_declared_metric(tmp_path, workload, trace):
    p = run(tmp_path, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in result["metrics"].items()}
    detail = json.loads(lines[-2].split(" ", 1)[1])
    assert detail["launch"]["env"]["SPARK_GRAFT_CPUS"] == str(detail["launch"]["nproc"])
    if trace:
        assert detail["layers"]["op_child_coverage_p50"] >= 0.9
        assert "tracing_overhead_s" in detail
    else:
        for m in declared:
            assert result["metrics"][m["name"]]["value"] > 0
    assert not os.path.exists(tmp_path / "work")  # the work dir is removed


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "lakebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = run(tmp_path, "cdc_cycles", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
