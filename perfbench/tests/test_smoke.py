"""Every workload runs one pass at the smallest scale and prints every
metric named in BENCHMARK.json with its unit (about two minutes per
workload)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("workload", spec.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    want = bench["per_layer"] if trace else bench["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in want), got
    else:
        # every operation runs the same Spark jobs in every pass
        line = next(x for x in proc.stdout.splitlines() if x.startswith("jobs "))
        for op, counts in json.loads(line[len("jobs "):]).items():
            assert len(set(counts)) == 1, (op, counts)
    if workload == "ingest":
        assert "note known defect stream_spark_written" in proc.stdout


def test_fails_without_the_engine(tmp_path):
    """Outside a source tree the benchmark exits non-zero, printing no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         "query", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
