"""The spark-submit entrypoint (scripts/submit_encode.py) end-to-end.

Covers the north-rule launch shape's driver program in-process: the
real cluster rehearsal (`spark-submit --py-files engine.zip` from a
neutral cwd, import served only from the zip) is recorded in
BENCH/BASELINE.md; this test keeps the entrypoint's argument parsing,
job wiring, verify modes, and resume-rerun behavior from rotting.
"""

import json
import runpy
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPT = REPO / "scripts" / "submit_encode.py"


def _run_entry(capsys, monkeypatch, argv):
    monkeypatch.setattr(sys, "argv", ["submit_encode.py", *argv])
    runpy.run_path(str(SCRIPT), run_name="__main__")
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    return json.loads(lines[-1])


@pytest.fixture()
def seq_input(spark, tmp_path):
    from parquet_playground_rs_spark.sources.generator import write_sequences

    path = str(tmp_path / "seq_in")
    write_sequences(spark, 400, path, partitions=4)
    return path


def test_submit_entry_encode_verify_and_resume(spark, seq_input, tmp_path,
                                               capsys, monkeypatch):
    out = str(tmp_path / "out")
    summary = _run_entry(capsys, monkeypatch, [
        "--input", seq_input, "--output", out,
        "--buckets", "4", "--chunk-size", "128",
        "--buckets-per-commit", "2", "--verify", "checksum",
    ])
    assert summary["processed_buckets"] == 4  # one per input file
    assert summary["resumed_buckets"] == 0
    assert summary["n_rows"] == 400  # one row per document
    assert summary["verify"]["n_mismatch"] == 0
    assert summary["verify"]["n_joined"] == 400

    # identical rerun: everything resumes, verify still green
    again = _run_entry(capsys, monkeypatch, [
        "--input", seq_input, "--output", out,
        "--buckets", "4", "--chunk-size", "128",
        "--buckets-per-commit", "2", "--verify", "checksum",
    ])
    assert again["resumed_buckets"] == 4
    assert again["processed_buckets"] == 0
    assert again["verify"]["n_mismatch"] == 0

