"""Smoke test of the benchmark: every workload at toy size, untraced and
traced. Each run must pass its output checks and print every metric
BENCHMARK.json names, with its unit.

    python3 -m pytest coastbench/test_smoke.py -q

Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace, size="toy"):
    return subprocess.run(
        [sys.executable, "coastbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, p.stderr[-3000:]
    assert res["attempted"] >= 2
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for m, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), m
        if not trace:
            assert v["value"] > 0, m


def test_fails_without_the_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, d), tmp_path / d,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = _run(tmp_path, SPEC["workloads"][0]["name"], 0, size="full")
    assert p.returncode != 0
    assert "correct" not in p.stdout
