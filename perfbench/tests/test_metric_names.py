"""Smoke test of the benchmark: every workload runs at tiny size, every
answer checks out, and the printed metric names and units are exactly the
ones BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q      # about two minutes
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return json.loads(detail_line)["detail"], result


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_declared_per_layer_metrics(workload):
    detail, result = _run(workload, trace=1)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("per_layer")
    assert set(detail["end_to_end"]) == set(_declared("end_to_end"))


def test_untraced_run_prints_declared_end_to_end_metrics():
    _, result = _run(WORKLOADS[0], trace=0)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
