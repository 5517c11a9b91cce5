"""Each workload at a tiny size prints every metric with its unit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END, PER_LAYER, ROOT


def bench(*args: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        stdout=subprocess.PIPE, text=True, timeout=600, cwd=ROOT)
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["backlog", "trickle", "stream"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    lines, res = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace), "--scale", "0.02")
    want = PER_LAYER if trace else END_TO_END
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    for name, unit in want.items():
        assert any(line.split()[::2] == [name, unit] for line in lines), name
    assert any(line.startswith("fail_frac 0 ratio") for line in lines)


def test_refuses_to_run_without_the_package(tmp_path):
    """With only the benchmark's files present it exits non-zero and prints
    no result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            (bench_dir / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backlog", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=120, cwd=tmp_path)
    assert proc.returncode != 0 and proc.stdout == ""
