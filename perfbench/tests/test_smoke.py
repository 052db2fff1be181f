"""Each workload end to end at tiny sizes, as the benchmark command runs it."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER
from perfbench.run import E2E

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["lakehouse", "query_suite"])
def test_end_to_end_run(workload):
    result = run_bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_lakehouse_run_reports_every_layer():
    result = run_bench("lakehouse", 1)
    assert result["correct"] is True
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    for name in ("maintenance.rewrite_s", "rewrite.map_s", "metadata.commits", "merge.s",
                 "ledger.writes", "table.plan_files_total", "spark.jobs"):
        assert metrics[name] > 0, name
    assert metrics["trace.missing"] == 0
    assert 0.9 <= metrics["trace.top_level_share"] <= 1.0


def test_no_result_without_the_engine(tmp_path):
    """Outside a checkout (only the benchmark's files) the run fails cleanly."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lakehouse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
