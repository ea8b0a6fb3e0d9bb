"""Toy-size smoke test of every workload, traced, plus the run that must
fail without the program.  Each workload starts its own Spark session
(about a minute each on 4 cores):

    python3 -m pytest -q perfbench/test_smoke.py
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
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_toy_traced(workload):
    p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", "1", "--size", "toy")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    bench = spec()
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
    with open(os.path.join(ROOT, ".bench_results",
                           f"{workload}-seed7-trace1.json")) as f:
        e2e = json.load(f)["end_to_end"]
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert all(v > 0 for v in e2e.values())


def test_workloads_match_benchmark_json():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec()["workloads"])


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(str(tmp_path), "--workload", "medallion_daily", "--seed", "1",
            "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
