"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload once untraced and once traced on tiny inputs (a few
pseudo-PDFs and two questions, 300 documents, a three-query mix) and
checks that each run passes its own correctness checks and reports every
metric it owes. Each run starts its own Spark session (about half a
minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
LISTED = {w["name"] for w in SPEC["workloads"]}


def run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["rag", "corpus_pipeline", "query_mix"])
def test_tiny_run(workload, trace):
    proc = run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert all(c["ok"] for c in report["checks"]) and report["checks"]
    metrics = result["metrics"]
    if workload in LISTED:
        key = "per_layer" if trace else "end_to_end"
        assert set(metrics) == {m["name"] for m in SPEC[key]}
        for m in SPEC[key]:
            assert metrics[m["name"]]["unit"] == m["unit"]
    else:
        assert metrics
    if not trace:
        assert all(v["value"] > 0 for v in metrics.values()), metrics
    else:
        assert os.path.exists(os.path.join(
            HERE, "out", f"trace-{workload}-seed3.json"))
    assert not os.path.exists(os.path.join(HERE, ".work")) or not [
        d for d in os.listdir(os.path.join(HERE, ".work"))
        if d.startswith(workload)
    ]


def test_fails_without_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark: exit non-zero, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out",
                                                  "__pycache__"))
    proc = run("rag", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def test_self_time_subtracts_children():
    tr = Tracer.__new__(Tracer)
    tr.spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 3.5, "end": 4.5},
    ]
    selfs = tr._self_times()
    assert selfs[1] == pytest.approx(5.0)  # children cover 1..6
    assert selfs[3] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)
