"""Smoke test of the benchmark at a tiny fixture size.

Runs every workload once untraced and every ``BENCHMARK.json`` workload
once traced, and checks that the result line is the contract's JSON with
every named end-to-end or per-layer metric and its unit, with no failed
op. Takes a few minutes::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
ALL_WORKLOADS = ["full_suite", "drift_profile", "incremental_job"]


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--convs", "300"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 2
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in metrics}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_end_to_end_metrics(workload):
    result = _run(workload, 0)
    _check(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics(workload):
    _check(_run(workload, 1), SPEC["per_layer"])


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it fails without a result."""
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            os.makedirs(tmp_path / "perfbench", exist_ok=True)
            (tmp_path / "perfbench" / name).write_bytes(open(os.path.join(ROOT, "perfbench", name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "full_suite", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
