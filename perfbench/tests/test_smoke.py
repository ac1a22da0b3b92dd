"""Tiny end-to-end runs of every workload through the command line: each
run must check its outputs, exit 0 and print every declared metric."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.metrics import END_TO_END, PER_LAYER, UNITS
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True,
        timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    scratch_parent = os.path.join(ROOT, ".perfbench_tmp")
    had_scratch = os.path.exists(scratch_parent)
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, lines[0][:3000]
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = END_TO_END if trace == "0" else PER_LAYER
    assert list(result["metrics"]) == [name for name, _, _ in declared]
    for name, m in result["metrics"].items():
        assert m["unit"] == UNITS[name]
        assert isinstance(m["value"], float)
        assert f"metric {name} = " in p.stdout  # the human-readable line
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    report = json.loads(next(x for x in lines if x.startswith("report "))[7:])
    assert report["host"]["nproc"] >= 1 and len(report["load"]) >= 4
    if not had_scratch:  # the run removed its scratch dir
        assert not os.path.exists(scratch_parent)


def test_refuses_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(ROOT, "perfbench", f), "rb").read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "etl_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
