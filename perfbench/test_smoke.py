"""Smoke test for the benchmark: every workload at a tiny size, untraced
and traced, must print every metric with its unit and fail no op.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402  (stdlib-only at import time)


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload",
                         ["mixed_short", "zipf_long", "pipeline_mixed"])
def test_every_metric_printed(workload, trace):
    p = _bench(BENCH.parent, "--workload", workload, "--seed", "3",
               "--seconds", "1", "--trace", str(trace), "--scale", "0.25")
    assert p.returncode == 0, p.stderr[-4000:]
    *text, last = p.stdout.strip().splitlines()
    result = json.loads(last)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= run.MIN_OPS
    expected = run.layer_units() if trace else run.E2E_UNITS
    assert {k: m["unit"] for k, m in result["metrics"].items()} == expected
    printed = dict(line.split(" = ", 1) for line in text if " = " in line)
    assert printed["ops_failed_frac"] == "0 fraction"
    for name, unit in run.E2E_UNITS.items():
        assert printed[name].split(" ", 1)[1] == unit


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCH.parent / "BENCHMARK.json", tmp_path)
    p = _bench(tmp_path, "--workload", "zipf_long", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
