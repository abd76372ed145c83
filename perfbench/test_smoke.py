"""Smoke test of the benchmark itself: every workload, one pass at sf0.001,
untraced and traced. Checks that every metric BENCHMARK.json names is
printed with its unit and that every op passed its output check.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the repository root; takes a few minutes (one JVM per run).
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_one_pass(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0
    if trace:
        assert result["metrics"]["ops.job_attribution"]["value"] >= 0.99
    else:
        assert result["metrics"]["pass_ratio"]["value"] == 1.0


def test_refuses_without_package(tmp_path):
    """Outside a checkout of the repository: non-zero exit, no result."""
    for name in ("BENCHMARK.json", "perfbench"):
        os.symlink(os.path.join(ROOT, name), tmp_path / name)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "star_sql",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert not out.stdout.strip()
