"""Smoke test of the benchmark at toy size (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced. Every metric named in
BENCHMARK.json must be printed with its unit, every check must pass, and no
process or scratch directory of the run may survive it. A run interrupted
by a signal must clean up the same way, and the command must fail without a
result in a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _command(workload: str, trace: int) -> list[str]:
    return [sys.executable, str(HERE / "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", str(BENCH["run_seconds"]),
            "--trace", str(trace), "--size", "toy"]


def _processes_of(run_marker: str) -> list[int]:
    """Pids whose command line or environment names the run's directory."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            blob = (Path(f"/proc/{pid}/cmdline").read_bytes()
                    + Path(f"/proc/{pid}/environ").read_bytes())
        except OSError:
            continue
        if run_marker.encode() in blob:
            found.append(int(pid))
    return found


def _assert_left_nothing(supervisor_pid: int) -> None:
    marker = f".perfbench/run-{supervisor_pid}-"
    assert _processes_of(marker) == []
    assert not list((ROOT / ".perfbench").glob(f"run-{supervisor_pid}-*"))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_cleans_up(workload, trace):
    proc = subprocess.Popen(_command(workload, trace), cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
    out, _ = proc.communicate(timeout=240)
    assert proc.returncode == 0
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    _assert_left_nothing(proc.pid)


def test_interrupted_run_kills_its_processes_and_scratch():
    proc = subprocess.Popen(_command(WORKLOADS[0], 0), cwd=ROOT,
                            stdout=subprocess.PIPE, text=True)
    time.sleep(15)  # the JVM and the Python workers are up by now
    marker = f".perfbench/run-{proc.pid}-"
    assert _processes_of(marker), "the run should be under way"
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in out
    _assert_left_nothing(proc.pid)


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
