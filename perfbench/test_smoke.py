"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repository root)

For every workload: a plain run passes its checks and prints every
end-to-end metric with its declared unit; a traced run with one output
deliberately corrupted prints every per-layer metric and counts the
corrupted output as failed ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["redset_replay", "analyst_queries"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_gated_workload_is_smoke_tested():
    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_plain_run_is_correct_and_prints_end_to_end_metrics(workload):
    res = _run(workload, "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert _units(res["metrics"]) == {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_failed_op(workload):
    res = _run(workload, "--trace", "1", "--corrupt")
    assert res["correct"] is False
    assert 1 <= res["failed"] <= res["attempted"]
    assert _units(res["metrics"]) == {m["name"]: m["unit"] for m in _spec()["per_layer"]}


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    """Without the package beside it, the benchmark exits non-zero and
    prints no result line."""
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    cmd = [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
