"""Smoke self-test of the benchmark: every workload once on the sf0.001
testdata, untraced and traced.

    python -m pytest perfbench/tests -q

Asserts that every metric BENCHMARK.json names is printed with its unit,
that no op failed, that the traced curation run attributes tasks and
shuffle writes to its ops, and that the benchmark refuses to run
(non-zero exit, no result line) where the program it measures is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True, proc.stdout[-3000:]
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    report = json.loads(next(l for l in proc.stdout.splitlines() if l.startswith("report "))[7:])
    assert report["failed_frac"] == 0
    assert report["conf"]["spark.sql.shuffle.partitions"]
    assert "steal_frac" in report["noise"]
    if trace:
        assert os.path.isfile(os.path.join(ROOT, report["span_file"]))
    if trace and workload == "curation":
        assert result["metrics"]["session.tasks_per_op"]["value"] > 0
        assert result["metrics"]["session.shuffle_mb_per_op"]["value"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(".work", "out", ".cache", "__pycache__"))
    proc = _run(str(tmp_path), "olap", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
