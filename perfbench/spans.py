"""Span collection for the traced benchmark run.

Three sources, joined per op phase ("<op>:write" / "<op>:read"):

- driver spans (`Tracer`), recorded by the benchmark around each op and
  around its calls into ``operators.*`` and ``plans.pipeline``;
- Spark's own job, stage and SQL-node metrics, read once at the end of
  the run from the UI's REST API (`SparkStatus`) and assigned to a phase
  by submission time — ops run one after another, so windows never
  overlap;
- worker spans written by ``worker_shim`` (`merge_worker_files`).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Driver-side spans: id, name, parent, op, start, end (epoch s)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._open[-1] if self._open else None
        s = {"id": next(self._ids), "name": name,
             "parent": parent["id"] if parent else None,
             "op": op if op is not None else (parent["op"] if parent else None),
             "start": time.time()}
        self._open.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            self.spans.append(s)


def _epoch(stamp: str) -> float:
    """'2026-01-01T10:00:00.123GMT' -> epoch seconds."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z") \
        .replace(tzinfo=timezone.utc).timestamp()


_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def parse_sql_metric(value: str) -> float:
    """Total of a SQL UI metric string: '12 ms', '1.5 MiB', or the
    'total (min, med, max ...)\\n8.1 s (...)' form -> seconds / bytes."""
    head = value.strip().splitlines()[-1].split()
    number = float(head[0].replace(",", ""))
    return number * _SCALE.get(head[1], 1.0) if len(head) > 1 else number


# Spark's per-task Python timings, summed over tasks. "initialize" runs from
# the worker entering its task loop to the UDF being loaded, so on a reused
# worker it also holds the wait for the task to arrive.
SQL_METRICS = {
    "time to run Python workers": "spark.python.run_s",
    "time to start Python workers": "spark.python.boot_s",
    "time to initialize Python workers": "spark.python.init_s",
    "data sent to Python workers": "spark.python.sent_bytes",
    "data returned from Python workers": "spark.python.received_bytes",
    # the scan node's own count: stage inputBytes misses reads made on
    # the thread that feeds a Python worker
    "size of files read": "spark.scan.input_bytes",
}

STAGE_METRICS = {  # REST stage field -> (metric, scale)
    "outputBytes": ("spark.write.output_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle.read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle.write_bytes", 1),
    "executorRunTime": ("spark.executor.run_s", 1e-3),
    "executorCpuTime": ("spark.executor.cpu_s", 1e-9),
    "jvmGcTime": ("spark.executor.gc_s", 1e-3),
    "numCompleteTasks": ("spark.tasks", 1),
}


class SparkStatus:
    """Reader for the running application's REST status API."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, timeout: float = 20.0):
        """(jobs, stages, sql executions) once the listener has caught up
        with every finished job."""
        deadline = time.time() + timeout
        while True:
            jobs = self._get("/jobs")
            stages = self._get("/stages")
            busy = any(j["status"] == "RUNNING" for j in jobs) or \
                any(s["status"] == "ACTIVE" for s in stages)
            if not busy or time.time() > deadline:
                break
            time.sleep(0.2)
        sqls = self._get("/sql?details=true&planDescription=false"
                         "&offset=0&length=100000")
        return jobs, stages, sqls


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def spark_phase_metrics(start: float, end: float, jobs, stages, sqls,
                        slack: float = 0.005) -> dict[str, float]:
    """Spark metrics of the jobs, stages and SQL executions submitted in
    [start, end], plus the phase time no job interval covers."""
    def inside(stamp):
        return start - slack <= _epoch(stamp) <= end + slack

    out = {name: 0.0 for name in SQL_METRICS.values()}
    out.update({name: 0.0 for name, _ in STAGE_METRICS.values()})
    phase_jobs = [j for j in jobs if inside(j["submissionTime"])]
    intervals = []
    for j in phase_jobs:
        a = max(_epoch(j["submissionTime"]), start)
        b = min(_epoch(j["completionTime"]), end) \
            if "completionTime" in j else end
        intervals.append((a, max(a, b)))
    out["pipeline.jobs_per_op"] = float(len(phase_jobs))
    out["pipeline.driver_s"] = max(0.0, (end - start) - _covered(intervals))
    for s in stages:
        if s["status"] != "COMPLETE" or not inside(s["submissionTime"]):
            continue
        for field, (name, scale) in STAGE_METRICS.items():
            out[name] += s.get(field, 0) * scale
    for e in sqls:
        if not inside(e["submissionTime"]):
            continue
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                name = SQL_METRICS.get(m["name"])
                if name:
                    out[name] += parse_sql_metric(m["value"])
    return out


def merge_worker_files(trace_dir: str):
    """Sum the per-process aggregates of every worker file, per op id:
    ({op: {span: [calls, total_s, self_s]}}, {op: {counter: n}})."""
    spans: dict[str, dict[str, list[float]]] = {}
    counts: dict[str, dict[str, int]] = {}
    for path in glob.glob(os.path.join(trace_dir, "w-*.json")):
        with open(path) as fh:
            part = json.load(fh)
        for op, per in part["spans"].items():
            for name, agg in per.items():
                acc = spans.setdefault(op, {}).setdefault(name, [0, 0.0, 0.0])
                for k in range(3):
                    acc[k] += agg[k]
        for op, per in part["counts"].items():
            acc = counts.setdefault(op, {})
            for name, n in per.items():
                acc[name] = acc.get(name, 0) + n
    return spans, counts


def worker_phase_metrics(spans: dict, counts: dict) -> dict[str, float]:
    """Layer metrics of one op phase from merged worker aggregates."""
    def calls(name):
        return float(spans.get(name, (0, 0.0, 0.0))[0])

    def total(name):
        return float(spans.get(name, (0, 0.0, 0.0))[1])

    def self_s(name):
        return float(spans.get(name, (0, 0.0, 0.0))[2])

    def count(name):
        return float(counts.get(name, 0))

    trials = calls("fsst.encode")
    batches = calls("encode_op.arrow_batch")
    return {
        "batch_encode.self_s": self_s("batch_encode"),
        "batch_encode.batch_stats_s": total("batch_encode.batch_stats"),
        "batch_encode.choose_codecs_s": total("batch_encode.choose_codecs"),
        "batch_encode.segmented_dict_s": total("batch_encode.segmented_dict"),
        "batch_encode.calls": calls("batch_encode"),
        "batch_encode.tokens": count("batch_encode.tokens"),
        "fsst.estimate_s": total("fsst.estimate"),
        "fsst.estimate_calls": calls("fsst.estimate"),
        "fsst.encode_s": total("fsst.encode"),
        "fsst.trial_calls": trials,
        "fsst.chosen_rows": count("fsst.chosen_rows"),
        "fsst.win_ratio": count("fsst.chosen_rows") / trials if trials else 0.0,
        "kernels.decode_s": total("kernels.decode"),
        "kernels.decode_calls": calls("kernels.decode"),
        "batch_decode.self_s": self_s("batch_decode"),
        "batch_decode.calls": calls("batch_decode"),
        "batch_decode.tokens": count("batch_decode.tokens"),
        "encode_op.arrow_batch_self_s": self_s("encode_op.arrow_batch"),
        "encode_op.batches": batches,
        "encode_op.rows_per_batch":
            count("encode_op.rows") / batches if batches else 0.0,
        "decode_op.arrow_batch_self_s": self_s("decode_op.arrow_batch"),
        "decode_op.batches": calls("decode_op.arrow_batch"),
        "decode_op.multi_chunk_rows": count("decode_op.multi_chunk_rows"),
    }
