"""Smoke test of the benchmark itself: every workload at the smallest
fixture size, once untraced and twice traced with the same seed.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Takes about seven minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# counts that must not depend on timing
REPEATABLE = ["spark.jobs", "catalog.commits", "node.files_written", "stream.rows_consumed"]


def run(workload: str, trace: int, seed: int = 3) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def assert_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in declared)
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload(workload):
    info, result = run(workload, trace=0)
    assert result["correct"], info["problems"]
    assert info["wrong_results"] == 0 and result["failed"] == 0
    assert result["attempted"] >= 1
    assert_metrics(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])

    traced = [run(workload, trace=1) for _ in range(2)]
    for info, result in traced:
        assert result["correct"], info["problems"]
        assert_metrics(result, SPEC["per_layer"])
    first, second = (r["metrics"] for _, r in traced)
    for name in REPEATABLE:
        assert first[name]["value"] == second[name]["value"], name


def test_missing_program_fails_without_result(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
