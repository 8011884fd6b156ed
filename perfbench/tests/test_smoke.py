"""Short smoke run of every workload, untraced and traced.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_untraced(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = {m["name"] for m in BENCH["end_to_end"]}
    assert set(out["metrics"]) == names
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_traced(workload):
    out = _run(workload, 1)
    assert out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == {x["name"] for x in BENCH["per_layer"]}
    assert m["spark.executor_run_s"] > 0 and m["session.get_spark_s"] > 0
    if workload == "pages_resumable":
        assert m["kernels.python_run_s"] > 0 and m["manifest.chunk_s"] > 0
        # the bucketed read path runs no Python UDF
        assert m["sources.catalog.save_bucketed_s"] > 0
        assert m["kernels.bucketed_python_run_s"] == 0
    if workload == "docs_corpus":
        assert m["operators.dedup.candidate_pairs"] > 0 and m["operators.lm.exec_s"] > 0


def test_refuses_without_engine(tmp_path):
    """With only the benchmark's files present it exits non-zero, no result."""
    import shutil

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    cmd = [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
           "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
