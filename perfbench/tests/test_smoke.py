"""One short run of every workload at sf0.001 (a full Spark session per
workload: slow, run on its own with ``python -m pytest perfbench/tests``)."""

import json
import subprocess
import sys

import pytest

from conftest import BENCH_DIR, REPO_ROOT
from workloads import WORKLOADS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, f"{BENCH_DIR}/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0.1", "--trace", str(trace), "--scale", "smoke"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    import run

    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_refuses_to_run_outside_a_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, f"{BENCH_DIR}/run.py", "--workload", "sql_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
