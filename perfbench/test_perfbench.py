"""Self-tests of the benchmark (not part of the engine's suite):

    python3 -m pytest perfbench -q

Each run starts its own JVM on 50-doc inputs, so the module takes a few
minutes.
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

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    res = _result(
        _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    )
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
    assert set(res["metrics"]) == set(names)
    units = run.metric_units()
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], float)
    if trace:
        pages = res["metrics"]["layout.pages"]["value"]
        assert (pages > 0) == (workload == "extract_mixed")
        assert res["metrics"]["failed_frac"]["value"] == 0.0
        assert res["metrics"]["spark.jobs"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_corrupted_output_row_is_counted_as_failed(workload):
    res = _result(
        _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "0", "--tiny", "--corrupt")
    )
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_without_the_engine_it_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE,
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    p = _run("--workload", "extract_mixed", "--seed", "1", "--seconds", "1",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
