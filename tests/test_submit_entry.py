"""The spark-submit entrypoint (scripts/submit_encode.py) end-to-end.

Covers the north-rule launch shape's driver program in-process: the
real cluster rehearsal (`spark-submit --py-files engine.zip` from a
neutral cwd, import served only from the zip) is recorded in
BENCH/BASELINE.md; this test keeps the entrypoint's argument parsing,
job wiring, verify modes, and resume-rerun behavior from rotting.
"""

import json
import os
import runpy
import subprocess
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


def test_submitted_conf_survives_the_engine_confs(tmp_path):
    """A fresh driver (no JVM yet, as under spark-submit) keeps the value
    the submit command gave an ENGINE_CONFS key, and still gets the
    engine's value for the keys the command left unset."""
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    probe = "\n".join([
        "import runpy, sys",
        f"sys.argv = ['submit_encode.py', '--output', "
        f"{str(tmp_path / 'out')!r}, '--job', 'vacuum']",
        f"runpy.run_path({str(SCRIPT)!r}, run_name='__main__')",
        "from pyspark.sql import SparkSession",
        "conf = SparkSession.getActiveSession().conf",
        f"print(conf.get({key!r}), conf.get("
        "'spark.hadoop.parquet.page.verify-checksum.enabled'))",
    ])
    # pyspark launches its JVM through spark-submit with these arguments,
    # so the --conf below reaches the driver as a submitted property
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_SUBMIT_ARGS=f"--master local[1] --driver-memory 512m "
                                   f"--conf {key}=4096 pyspark-shell")
    run = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-2:] == ["4096", "true"], run.stdout
