"""End-to-end checks of the benchmark command: a traced smoke run at the
benchmark's own scale (sf0.001), and the refusal to run without the
engine."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_traced_smoke_run_reports_every_layer():
    out = _run(ROOT, "--workload", "relational", "--seed", "5", "--seconds", "1", "--trace", "1")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == list(PER_LAYER)
    report = json.loads(lines[-2])
    layers = report["layers"]
    # the self times of a pass add up to its wall
    mean_pass_ms = 1000.0 * sum(report["traced"]["passes_s"]) / len(report["traced"]["passes_s"])
    explained = sum(v for k, v in layers.items() if k.startswith("self."))
    assert explained == pytest.approx(mean_pass_ms, rel=0.01)
    assert layers["scheduler.jobs"] > 0 and layers["catalyst.planning_ms"] > 0
    assert report["inputs"]["rows"]["lineitem"] == 6000
    assert os.path.exists(os.path.join(ROOT, ".perfbench", "runs", "relational-seed5-trace1-spans.jsonl"))


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, "--workload", "relational", "--seed", "1", "--seconds", "1", timeout=170)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
