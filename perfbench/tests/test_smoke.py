"""Smoke runs of the whole benchmark command (each starts Spark: ~1 min)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["backfill", "tail"])
def test_workload_smoke(workload):
    r = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0")
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        n: u for n, u, _ in layers.END_TO_END
    }
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(str(tmp_path), "--workload", "backfill", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
