"""Smoke test of the benchmark at the smallest generated size.

For every workload in BENCHMARK.json it runs one operation untraced and
one traced (plus the untraced one a traced run always pairs it with),
and asserts that every metric BENCHMARK.json names is reported with its
unit and that no operation failed. About a minute per case:

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SMALLEST_CASES = {"events_long_traces": 20, "planted_many_instances": 60}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_one_operation(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace),
         "--cases", str(SMALLEST_CASES[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    detail, result = (json.loads(line) for line in p.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-4000:]
    assert detail["failed_ratio"] == 0
    assert result["attempted"] == (2 if trace else 1)
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in named)
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace and workload == "planted_many_instances":
        assert result["metrics"]["discovery.planted_recall"]["value"] == 1.0
