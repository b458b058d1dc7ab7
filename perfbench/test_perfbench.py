"""Self-tests of the benchmark: every workload at its smallest size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test starts the benchmark as a child process from the repository
root, the way it is run for measurements (a few minutes in total).
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
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAMED = {
    "etl": ("backfill_events_per_s", "sync_p50_s", "view_read_p50_s", "idle_sync_s", "compact_s"),
    "contract": ("contract_total_s", "contract_query_p50_s", "contract_query_p90_s"),
}


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT, script: str | None = None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        if line.startswith("metric "):
            _, name, value, unit, better = line.split()
            printed[name.split("(")[0]] = (float(value), unit, better)
    return lines, printed, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_unit_and_direction(workload, trace):
    lines, printed, result = _result(_run(workload, trace))
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        value, unit, better = printed[m["name"]]
        assert (unit, better) == (m["unit"], f"{m['better']}-is-better")
        assert value == pytest.approx(result["metrics"][m["name"]]["value"], rel=1e-5, abs=1e-9)
    for name in NAMED[workload] + ("failed_ops_ratio", "setup_s", "peak_rss_mb"):
        assert name in printed, f"{name} not printed"
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert printed["failed_ops_ratio"][0] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_expectation_is_a_failed_operation(workload):
    lines, printed, result = _result(_run(workload, 0, "--plant"))
    assert not result["correct"]
    assert result["failed"] == 1  # one planted expectation fails exactly one operation
    assert printed["failed_ops_ratio"][0] == pytest.approx(result["failed"] / result["attempted"])
    assert any(line.startswith("FAILED ") for line in lines)


def test_refuses_to_run_without_the_engine(tmp_path):
    """A directory holding only the benchmark must fail fast, printing no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = _run("etl", 0, cwd=str(tmp_path), script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
