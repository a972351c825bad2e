"""Smoke test of the benchmark at the smallest input scale.

    python -m pytest xsbench/tests -q      # from the source tree root

Runs each workload once, traced, at a tenth of the 1x row counts, and
checks that the output carries every metric BENCHMARK.json declares,
that the layer spans account for an untraced pass, and that each
workload stresses the layers it was chosen for.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("xsbench", "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _metric_lines(stdout: str) -> dict:
    out = {}
    for line in stdout.splitlines():
        if line.startswith("metric "):
            _, name, value, unit = line.split()
            out[name] = (float(value), unit)
    return out


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def traced(request):
    proc = _run(ROOT, request.param, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return request.param, proc.stdout


def test_result_line_and_every_metric_with_unit(traced):
    workload, stdout = traced
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    printed = _metric_lines(stdout)
    declared = SPEC["end_to_end"] + SPEC["per_layer"]
    for m in declared:
        assert printed[m["name"]][1] == m["unit"], m["name"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert "failed_share" in printed


def test_spans_account_for_an_untraced_pass(traced):
    _, stdout = traced
    m = {k: v for k, (v, _) in _metric_lines(stdout).items()}
    spans = m["build.s"] + m["catalyst.s"] + m["exec.s"]
    assert abs(spans - m["warm_s"]) <= abs(m["trace.overhead_s"]), m


def test_workload_stresses_its_layers(traced):
    workload, stdout = traced
    m = {k: v for k, (v, _) in _metric_lines(stdout).items()}
    if workload == "array_ops":
        assert m["build.jobs"] == 0 and m["plan.python_nodes"] == 0
    elif workload == "pipelines":
        assert m["build.jobs"] > 0 and m["plan.python_nodes"] > 0
        assert m["cold.build.jobs"] >= m["build.jobs"]


def test_fails_outside_a_source_tree(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "xsbench"), tmp_path / "xsbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], trace=0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
