"""Benchmark self-test at smoke scale.

    python3 -m pytest perfbench/tests -q

Runs every workload of BENCHMARK.json at smoke scale (sf0.001 inputs,
a 1k-row CSV, 2-day catch-up windows, 3 catalog queries), untraced and
traced, and checks that each run emits every metric BENCHMARK.json names,
with its unit, and that no operation failed. Also checks that the
benchmark refuses to run where there is no program to build.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_emits_every_metric(workload, trace):
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] >= 1
    fail_line = [ln for ln in p.stdout.splitlines() if "fail_ratio =" in ln]
    assert fail_line and fail_line[0].split("=")[1].split()[0] == "0"
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in want)


def test_refuses_without_program(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    for d in SPEC["paths"]:
        shutil.copytree(ROOT / d, tmp_path / d,
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
