"""Repository benchmark: encode/decode throughput and stored bytes.

    python3 perfbench/run.py --workload zipf_long --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see workloads.py for the corpora;
BENCHMARK.json registers zipf_long and pipeline_mixed, mixed_short is the
by-hand contrast that runs pipeline_mixed's kernels without the pipeline):

- ``mixed_short``: the engine's own ``sources.generator`` corpus — batch
  stats, codec choice and group bit-packing do the work; FSST is rarely
  tried and no document spans more than one chunk.
- ``zipf_long``: a Zipfian long-document token stream over hashed ids — the
  FSST trial loop, the per-row FSST decode and the chunk reassembly
  shuffle do the work.
- ``pipeline_mixed``: a mixed_short-shaped corpus in many files through the
  resumable file-scope pipeline (catalog, job lock, manifests, concurrent
  commit groups) and its manifest-driven read.

One Spark session on ``local[nproc]`` in this process. Set-up is repeated
``SETUP_ROUNDS`` times and ``setup_s`` is the median round: ``get_spark``
(JVM and context start in the first round, the live session after),
the corpus (generated with its checksum and the reference writer's output
in the first round, re-read and checksummed after) and one untimed
warm-up op. Then operations (write op + read op) run
back to back for ``--seconds``; each read is compared with the source
checksum, and one exact join-based round-trip verify follows, untimed.
Op times are wall times less the CPU time the hypervisor stole (`Clock`);
the raw wall-time throughputs and the stolen share are printed beside
the metrics.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with worker spans (worker_shim.py), Spark's REST status API and
driver spans, and prints the per-layer metrics. In the traced run every
second op runs with worker spans off, which gives the tracing overhead.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SETUP_ROUNDS = 3
MIN_OPS = 3
MIN_TRACED_OPS = 4  # two with worker spans, two without
OP_PROPERTY = "spark.perfbench.op"  # same key as worker_shim.OP_PROPERTY

E2E_UNITS = {
    "encode_tokens_per_s": "tok/s",
    "decode_tokens_per_s": "tok/s",
    "stored_bytes_per_token": "B/tok",
    "compression_vs_reference": "ratio",
    "ops_ok_frac": "fraction",
    "worker_peak_rss_mb": "MB",
    "setup_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of the traced run, with its unit."""
    phase = {
        "batch_encode.self_s": "s", "batch_encode.batch_stats_s": "s",
        "batch_encode.choose_codecs_s": "s",
        "batch_encode.segmented_dict_s": "s", "batch_encode.calls": "count",
        "batch_encode.tokens": "tok",
        "fsst.estimate_s": "s", "fsst.estimate_calls": "count",
        "fsst.encode_s": "s", "fsst.trial_calls": "count",
        "fsst.chosen_rows": "count", "fsst.win_ratio": "ratio",
        "kernels.decode_s": "s", "kernels.decode_calls": "count",
        "batch_decode.self_s": "s", "batch_decode.calls": "count",
        "batch_decode.tokens": "tok",
        "encode_op.arrow_batch_self_s": "s", "encode_op.batches": "count",
        "encode_op.rows_per_batch": "rows",
        "decode_op.arrow_batch_self_s": "s", "decode_op.batches": "count",
        "decode_op.multi_chunk_rows": "count",
        "spark.python.run_s": "s", "spark.python.boot_s": "s",
        "spark.python.init_s": "s", "spark.python.sent_bytes": "B",
        "spark.python.received_bytes": "B", "spark.scan.input_bytes": "B",
        "spark.write.output_bytes": "B", "spark.shuffle.read_bytes": "B",
        "spark.shuffle.write_bytes": "B", "spark.executor.run_s": "s",
        "spark.executor.cpu_s": "s", "spark.executor.gc_s": "s",
        "spark.tasks": "count",
        "pipeline.driver_s": "s", "pipeline.jobs_per_op": "count",
        "pipeline.commit_groups": "count", "pipeline.read_encoded_s": "s",
    }
    units = {f"{p}.{k}": u for p in ("write", "read") for k, u in phase.items()}
    units.update({"setup.session_s": "s", "setup.input_s": "s",
                  "setup.warmup_s": "s", "chunks.multi_rows": "count",
                  "trace.encode_tokens_per_s": "tok/s",
                  "trace.decode_tokens_per_s": "tok/s",
                  "trace.encode_overhead_frac": "fraction",
                  "trace.decode_overhead_frac": "fraction"})
    units.update({f"codec.rows.{c}": "count" for c in CODECS})
    return units


CODECS = ("plain", "bitpack", "fordelta", "rle", "dict", "fsst")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host


def host_budget() -> tuple[list[int], int]:
    """(cpus this process may use, driver memory MiB sized to the box)."""
    cpus = sorted(os.sched_getaffinity(0))
    avail_kb = 4 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return cpus, max(1024, min(4096, avail_kb // 1024 // 4))


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine since boot: time its
    CPUs ran anything, and time a virtual CPU was ready to run while the
    hypervisor ran another guest (always 0 on bare metal)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Clock:
    """Wall time of a block, with the share the hypervisor stole from the
    machine's ready CPUs taken out: ``wall * busy / (busy + steal)``.

    On a virtual machine whose host is shared, a guest's CPUs lose a
    varying share of their ready time to other guests (0-30% from one op
    to the next on a 4-vCPU guest), and raw wall time follows that host
    load more than the program. The adjusted time is
    the wall time the block would have taken with every ready CPU
    running; with no steal it equals the wall time."""

    def __enter__(self):
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        self.steal = steal / (busy + steal) if busy + steal else 0.0
        self.seconds = self.wall * (1.0 - self.steal)
        return False


def _descendants() -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [os.getpid()]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(line.rstrip("\n").split(":\t", 1) for line in fh
                        if ":\t" in line)
    except OSError:
        return {}


def python_workers() -> list[int]:
    """Python processes below this driver: the worker daemon and its
    forked workers."""
    return [p for p in _descendants()
            if _status(p).get("Name", "").startswith("python")]


def peak_rss_mb(pids: list[int]) -> float:
    peak = 0.0
    for p in pids:
        hwm = _status(p).get("VmHWM")
        if hwm:
            peak = max(peak, int(hwm.split()[0]) / 1024.0)
    return peak


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if _status(p).get("State", "Z")[:1] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    log(f"processes still alive after shutdown: {alive}")


# ---------------------------------------------------------------- run


def prepare_env(work: Path, trace: bool) -> None:
    """Process environment the JVM and the Python workers inherit: the
    engine (and, traced, the worker shim) on the workers' import path,
    and every scratch location inside the run's work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT)] + ([str(BENCH_DIR)] if trace else [])
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(tmp),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf["spark.python.daemon.module"] = "worker_shim"
        conf["spark.ui.port"] = "0"
        os.environ["PERFBENCH_TRACE_DIR"] = str(work / "trace")
        (work / "trace").mkdir()
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell",
    })
    tempfile.tempdir = str(tmp)


class Bench:
    def __init__(self, args, work: Path, cpus: list[int], driver_mb: int):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.cpus, self.driver_mb = cpus, driver_mb
        self.spark = None
        self.tracer = None
        self.worker_pids: set[int] = set()
        self.peak_rss = 0.0

    def span(self, name, op=None):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def sample_workers(self) -> None:
        self.worker_pids.update(python_workers())
        self.peak_rss = max(self.peak_rss, peak_rss_mb(list(self.worker_pids)))

    def start_session(self):
        """get_spark: starts the JVM and the context on the first call and
        returns the live session afterwards."""
        from parquet_playground_rs_spark.session import get_spark

        n = len(self.cpus)
        self.spark = get_spark(app="perfbench", cores=n, shuffle_partitions=n,
                               driver_mem=f"{self.driver_mb}m", ui=self.trace)

    def set_op(self, op: str | None) -> None:
        if op is None:
            self.spark.conf.unset(OP_PROPERTY)
        else:
            self.spark.conf.set(OP_PROPERTY, op)

    def op(self, label, traced: bool) -> dict:
        """One write op + read op; returns timings, windows and verdict."""
        wl, corpus = self.wl, self.corpus
        out = wl.out_dir(label)
        rec = {"label": label, "out": out, "traced": traced, "ok": False}
        try:
            for phase in ("write", "read"):
                op_id = f"{label}:{phase}"
                self.set_op(op_id if traced else None)
                with Clock() as clock, self.span(phase, op=op_id) as s:
                    if phase == "write":
                        wl.write(self.spark, out, self.span)
                    else:
                        got = wl.read(self.spark, out, self.span)
                rec[f"{phase}_s"] = clock.seconds
                rec[f"{phase}_wall_s"] = clock.wall
                rec[f"{phase}_steal"] = clock.steal
                if s is not None:
                    rec[f"{phase}_window"] = (s["start"], s["end"])
                self.sample_workers()
            rec["ok"] = got == (corpus.n_docs, corpus.checksum)
            if not rec["ok"]:
                log(f"op {label}: decoded (count, checksum) {got} != source "
                    f"{(corpus.n_docs, corpus.checksum)}")
        except Exception:
            log(f"op {label} failed:\n{traceback.format_exc()}")
        finally:
            if traced:
                self.set_op(None)
        return rec

    def setup(self) -> dict[str, float]:
        from workloads import WORKLOADS

        self.wl = WORKLOADS[self.args.workload](
            str(self.work / "data"), len(self.cpus), self.args.scale)
        rounds = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            if r == 0:
                self.corpus = self.wl.make_corpus(self.spark, self.args.seed)
            else:
                self.wl.check_cached(self.spark, self.corpus)
            t2 = time.perf_counter()
            warm = self.op(f"setup{r}", traced=False)
            if not warm["ok"]:
                raise RuntimeError("warm-up op failed")
            self.wl.discard(warm["out"], keep="")
            t3 = time.perf_counter()
            rounds.append({"session_s": t1 - t0, "input_s": t2 - t1,
                           "warmup_s": t3 - t2, "setup_s": t3 - t0})
            log(f"setup round {r}: " + ", ".join(
                f"{k}={v:.2f}" for k, v in rounds[-1].items()))
        return {k: statistics.median(x[k] for x in rounds) for k in rounds[0]}

    def measure(self) -> list[dict]:
        ops = []
        min_ops = MIN_TRACED_OPS if self.trace else MIN_OPS
        deadline = time.perf_counter() + self.args.seconds
        prev = None
        while len(ops) < min_ops or time.perf_counter() < deadline:
            i = len(ops)
            rec = self.op(i, traced=self.trace and i % 2 == 0)
            ops.append(rec)
            log(f"op {i}: ok={rec['ok']} " + " ".join(
                f"{ph}_s={rec.get(ph + '_s', 0):.3f} "
                f"(wall {rec.get(ph + '_wall_s', 0):.3f}, "
                f"steal {rec.get(ph + '_steal', 0):.0%})"
                for ph in ("write", "read")))
            if prev is not None:
                self.wl.discard(prev, keep=rec["out"])
            prev = rec["out"]
        return ops

    def shape(self, out: str) -> dict[str, int]:
        """Exact workload-shape counts from the encoded output."""
        from workloads import shape_counts

        counts = shape_counts(self.wl.data_dir(out), CODECS)
        counts["pipeline.commit_groups"] = self.wl.commit_groups(out)
        return counts

    def verify_exact(self, out: str) -> bool:
        from parquet_playground_rs_spark.operators import decode as dec

        src = self.spark.read.parquet(self.corpus.path)
        decoded = dec.decode_tokens(self.wl.read_encoded(self.spark, out, self.span))
        try:
            r = dec.verify_roundtrip(src, decoded, method="exact").first()
        finally:
            dec.release_decode_cache(decoded)
        n = self.corpus.n_docs
        ok = (r["n_mismatch"] == 0 and r["n_source"] == n
              and r["n_decoded"] == n and r["n_joined"] == n)
        if not ok:
            log(f"exact verify failed: {r.asDict()}")
        return ok

    def run(self) -> dict:
        from workloads import column_bytes, parquet_files

        os.sched_setaffinity(0, self.cpus)  # the JVM and workers inherit it
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer()
        setup = self.setup()
        self.peak_rss = 0.0  # the worker peak is the measured loop's
        self.worker_pids = set()
        ops = self.measure()
        good = [o for o in ops if o["ok"]]
        if not good:
            raise RuntimeError("every measured op failed")
        last = good[-1]["out"]
        data = self.wl.data_dir(last)
        t0 = time.perf_counter()
        counts = self.shape(last)
        problems = self.wl.shape_problems(counts)
        exact_ok = self.verify_exact(last)
        log(f"shape counts and exact verify: {time.perf_counter() - t0:.2f} s")
        c = self.corpus
        e2e = {
            "encode_tokens_per_s":
                c.n_tokens / statistics.median(o["write_s"] for o in good),
            "decode_tokens_per_s":
                c.n_tokens / statistics.median(o["read_s"] for o in good),
            "stored_bytes_per_token":
                sum(os.path.getsize(f) for f in parquet_files(data)) / c.n_tokens,
            "compression_vs_reference":
                column_bytes(data, "block") / c.reference_tokens_bytes,
            "ops_ok_frac": len(good) / len(ops),
            "worker_peak_rss_mb": self.peak_rss,
            "setup_s": setup["setup_s"],
        }
        log(f"{len(ops)} ops, {c.n_docs} docs, {c.n_tokens} tokens, "
            f"{len(self.cpus)} cores")
        for k, v in sorted(counts.items()):
            print(f"{k} = {v} count")
        print(f"ops_failed_frac = {1 - e2e['ops_ok_frac']:.6g} fraction")
        for phase, word in (("write", "encode"), ("read", "decode")):
            print(f"{word}_tokens_per_wall_s = {c.n_tokens / statistics.median(o[phase + '_wall_s'] for o in good):.6g} tok/s")
            print(f"{phase}_steal_frac = {statistics.median(o[phase + '_steal'] for o in good):.3g} fraction")
        for k, v in e2e.items():
            print(f"{k} = {v:.6g} {E2E_UNITS[k]}")
        if problems:
            raise SystemExit(f"[perfbench] workload {self.args.workload} no "
                             "longer has its shape: " + "; ".join(problems))
        if self.trace:
            values = self.layer_report(ops, setup, counts)
            units = layer_units()
            metrics = {k: {"value": float(values[k]), "unit": units[k]}
                       for k in units}
        else:
            metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
        return {"correct": exact_ok and len(good) == len(ops),
                "attempted": len(ops), "failed": len(ops) - len(good),
                "metrics": metrics}

    def layer_report(self, ops, setup, counts) -> dict[str, float]:
        from spans import (SparkStatus, merge_worker_files,
                           spark_phase_metrics, worker_phase_metrics)

        jobs, stages, sqls = SparkStatus(self.spark.sparkContext).snapshot()
        w_spans, w_counts = merge_worker_files(os.environ["PERFBENCH_TRACE_DIR"])
        per_phase: dict[str, list[dict]] = {"write": [], "read": []}
        traced = [o for o in ops if o["ok"] and o["traced"]]
        for o in traced:
            for phase in ("write", "read"):
                op_id = f"{o['label']}:{phase}"
                start, end = o[f"{phase}_window"]
                m = spark_phase_metrics(start, end, jobs, stages, sqls)
                m.update(worker_phase_metrics(w_spans.get(op_id, {}),
                                              w_counts.get(op_id, {})))
                m["pipeline.commit_groups"] = float(counts["pipeline.commit_groups"])
                m["pipeline.read_encoded_s"] = sum(
                    s["end"] - s["start"] for s in self.tracer.spans
                    if s["op"] == op_id
                    and s["name"] == "plans.pipeline.read_encoded")
                per_phase[phase].append(m)
        values = {f"{phase}.{k}": statistics.median(m[k] for m in ms)
                  for phase, ms in per_phase.items() for k in ms[0]}
        values.update({f"setup.{k}": v for k, v in setup.items()
                       if k != "setup_s"})
        values.update({k: v for k, v in counts.items()
                       if k != "pipeline.commit_groups"})
        plain = [o for o in ops if o["ok"] and not o["traced"]]
        n_tok = self.corpus.n_tokens
        for phase, word in (("write", "encode"), ("read", "decode")):
            t_on = statistics.median(o[f"{phase}_s"] for o in traced)
            t_off = statistics.median(o[f"{phase}_s"] for o in plain)
            values[f"trace.{word}_tokens_per_s"] = n_tok / t_on
            values[f"trace.{word}_overhead_frac"] = t_on / t_off - 1
        dump = self.work.parent / f"trace-{self.args.workload}-{self.args.seed}.json"
        with open(dump, "w") as fh:
            json.dump({"driver_spans": self.tracer.spans,
                       "worker_spans": w_spans, "worker_counts": w_counts,
                       "per_op": per_phase, "metrics": values}, fh)
        log(f"trace written to {dump}")
        return values


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("mixed_short", "zipf_long", "pipeline_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import parquet_playground_rs_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine or pyspark: {e}")
        return 2
    work = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus, driver_mb = host_budget()
    prepare_env(work, bool(args.trace))
    bench = Bench(args, work, cpus, driver_mb)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
