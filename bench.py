#!/usr/bin/env python3
"""BENCH harness: headline engine jobs at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Measured jobs (protocol per BASELINE.md):
  q_encode            synthetic sequences (deterministic, sf-scaled) -> encode
                      -> write encoded parquet (the reference's js2pq path);
                      median of 3 reps after a warm-up exchange job
  q_decode_verify     read encoded -> decode -> hash-compare verify
                      (the reference's parqbench --use-data path)
  q_encode_docs       tokenize the sf documents table -> encode -> count
  q_token_stats       oracle-style token stats over the tokenized docs

Extras reported: encode tokens/sec, engine-vs-reference compressed bytes for
the token payload (reference config = plain list<int32> column, ZSTD +
dictionary, mirroring /root/reference/src/bin/js2pq/main.rs:91-99).

Methodology notes (measured on this box, see BENCH/BASELINE.md):
- a tiny mapInArrow warm-up precedes timing (JIT + python worker pool);
- the synthetic input is cached as snappy parquet — 32 concurrent zstd-jni
  decompressors showed 5x run-to-run variance; snappy reads are stable;
- engine output stays zstd (write-once; the size target compares
  zstd-vs-zstd).

Noise discipline (round-4: BENCH_rN numbers previously swung 2-4x with
zero code change — the scaling study's own protocol, applied here):
- the process pins itself to cores 0..CPUS-1 BEFORE the JVM launches
  (sched_setaffinity is inherited), so helper threads can't wander over
  loaded cores and a quiet-window run can't borrow extras;
- a fixed pure-numpy stream probe (copy+add over a 128 MB resident
  working set, 256 MB of traffic per pass pair — the bandwidth
  microbenchmark of BENCH/CEILING.md) runs interleaved with every timed
  rep; extras report the probe GB/s series, `host_noise_index` =
  max/min probe time, and (round-5, the judge's outlier-robustness ask)
  `host_noise_index_trimmed` = p90/median of the series — one stray
  probe spike can push max/min past 2 on an otherwise-quiet run, while
  the trimmed form only moves when a sustained fraction of probes
  slowed. Each query's probes are also reported per-query
  (`probe_by_query`) so a single spike localizes to the rep it
  bracketed;
- every multi-rep query reports best AND median (`queries` stays the
  median for continuity with earlier rounds).

Output protocol (round 6): the printed JSON line is a COMPACT headline
(per-query medians + the deterministic invariants + a budgeted subset
of scalar extras) sized to fit the driver's 2000-char tail capture —
BENCH_r05.json came back unparseable because the line outgrew it. The
complete extras (probe series, per-rep arrays, the IVF-PQ recall
table) are written to BENCH/extras_<sf>_c<cpus>.json, whose path rides
in the headline as `extras_file`.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/spark_graft_cache")
ENCODE_REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

# synthetic rows scaled to sf; sized so work dominates fixed Spark overheads
_SF_ROWS = {"sf0.001": 10_000, "sf0.01": 100_000, "sf0.1": 1_000_000}


def sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/")) or "sf0.1"


_CALIB_TIMES: list[float] = []
_CALIB_TAGS: list[str] = []
_CALIB_BUFS = None


def calibrate(tag: str = "") -> float:
    """Fixed host-throughput probe: two preallocated 64 MB float64
    buffers (128 MB resident), each pass pair moving 256 MB (copy +
    add, read+write each — the STREAM-ish kernel of BENCH/CEILING.md;
    no Spark, no JVM). Buffers are pre-touched so the probe measures
    memory BANDWIDTH, not page-fault service (a fresh allocation per
    call swung the probe 80x under JVM memory pressure); min-of-3
    inside one call rides out single GC pauses. Appends the wall time
    (tagged with the query it brackets) to the series and returns it;
    ~0.1 s when quiet."""
    global _CALIB_BUFS
    if _CALIB_BUFS is None:
        a = np.ones(8 * 1024 * 1024, dtype=np.float64)   # 64 MB
        b = np.empty_like(a)
        b[:] = 0.0  # pre-touch
        _CALIB_BUFS = (a, b)
    a, b = _CALIB_BUFS
    best = 1e18
    for _ in range(3):
        t0 = time.perf_counter()
        np.add(a, 1.0, out=b)       # read 64 + write 64 MB
        np.copyto(b, a)             # read 64 + write 64 MB
        best = min(best, time.perf_counter() - t0)
    _CALIB_TIMES.append(best)
    _CALIB_TAGS.append(tag)
    return best


def timed_reps(fn, reps: int = 3, tag: str = "",
               warmup: bool = False) -> list[float]:
    """Run fn() `reps` times, a calibration probe interleaved BEFORE each
    rep (the probe times land in the shared series for the noise index,
    tagged so a spike localizes to the query it bracketed).

    warmup=True runs ONE untimed rep first (round-7 judge task 8: r6's
    q_encode median included an 11.8 s worker-pool/JIT warm-up rep, so
    cross-round median comparisons carried startup noise the bests
    didn't). Medians over the timed reps are then warm-only."""
    if warmup:
        fn()
    out = []
    for _ in range(reps):
        calibrate(tag)
        t0 = time.time()
        fn()
        out.append(time.time() - t0)
    return out


# round-8 judge task 1: BENCH_r07.json was captured in a loaded window
# (trimmed 1.27, probes 10.5 GB/s vs 12.0 quiet), so its per-query
# numbers read as regressions that quiet-window runs showed were window
# artifacts — and a polluted committed artifact hides REAL regressions.
# The headline capture is now noise-gated: before the JVM launches, a
# probe burst must show a trimmed index <= the quiet bar, retrying for
# up to SPARK_GRAFT_QUIET_WAIT_SEC; and the final JSON line always
# carries `window: quiet|loaded` (stamped from the RUN's own
# interleaved probes, the ground truth) + the probe median GB/s, so
# cross-round deltas are interpretable either way.
QUIET_TRIMMED_BAR = float(os.environ.get("SPARK_GRAFT_QUIET_BAR", "1.15"))
QUIET_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "600"))
QUIET_RETRY_SLEEP = 20.0
_PREFLIGHT_PROBES = 12


def wait_for_quiet_window() -> dict:
    """Block until a pre-flight probe burst reads quiet, or the wait
    budget runs out (the run then proceeds, stamped loaded if its own
    probes agree). Burst probes go through `calibrate` for the
    identical kernel, then the shared series is RESET so pre-flight
    probes never pollute the run's noise index."""
    global _CALIB_TIMES, _CALIB_TAGS
    deadline = time.time() + QUIET_WAIT_SEC
    attempts = 0
    waited_from = time.time()
    while True:
        attempts += 1
        burst = [calibrate("preflight") for _ in range(_PREFLIGHT_PROBES)]
        ts = sorted(burst)
        med = statistics.median(ts)
        trimmed = ts[min(len(ts) - 1,
                         int(round(0.9 * (len(ts) - 1))))] / med
        gbps = round(0.25 / med, 1)
        _CALIB_TIMES = []
        _CALIB_TAGS = []
        if trimmed <= QUIET_TRIMMED_BAR or time.time() >= deadline:
            return {"preflight_trimmed": round(trimmed, 2),
                    "preflight_gbps_median": gbps,
                    "preflight_attempts": attempts,
                    "preflight_waited_sec": round(
                        time.time() - waited_from, 1),
                    "preflight_quiet": trimmed <= QUIET_TRIMMED_BAR}
        print(f"# waiting for quiet window: trimmed {trimmed:.2f} > "
              f"{QUIET_TRIMMED_BAR} (probe {gbps} GB/s), retry in "
              f"{QUIET_RETRY_SLEEP:.0f}s", file=sys.stderr)
        time.sleep(QUIET_RETRY_SLEEP)


def noise_indices() -> tuple[float, float, dict[str, list[float]]]:
    """(max/min, p90/median, probes grouped by query tag) over the
    interleaved probe series. max/min flags ANY excursion but round-4's
    judge replication showed one 27 ms probe can push it to 2.66 on an
    otherwise-quiet run; p90/median only moves when >10% of probes
    slowed — report both, trust the trimmed one for quiet/noisy calls."""
    ts = sorted(_CALIB_TIMES)
    n = len(ts)
    raw = ts[-1] / ts[0] if n else 1.0
    if n >= 3:
        med = statistics.median(ts)
        p90 = ts[min(n - 1, int(round(0.9 * (n - 1))))]
        trimmed = p90 / med
    else:
        trimmed = raw
    by_query: dict[str, list[float]] = {}
    for tag, t in zip(_CALIB_TAGS, _CALIB_TIMES):
        by_query.setdefault(tag or "_", []).append(round(t, 4))
    return raw, trimmed, by_query


def parquet_column_bytes(path: str, column: str) -> int:
    """Total compressed bytes of one column across a parquet dir/file."""
    import pyarrow.parquet as pq

    total = 0
    p = Path(path)
    paths = [str(f) for f in p.rglob("*.parquet")] if p.is_dir() else [str(p)]
    for f in paths:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema.split(".")[0] == column:
                    total += col.total_compressed_size
    return total


def main() -> None:
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import decode as dec
    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.session import get_spark
    from parquet_playground_rs_spark.sources.generator import write_sequences
    from parquet_playground_rs_spark.sources.tokenizer import tokenize_documents

    n_rows = _SF_ROWS.get(sf_name())
    sf_defaulted = n_rows is None
    if sf_defaulted:  # unknown sf: say so in the output, don't mislabel
        n_rows = 1_000_000
    # pin BEFORE the JVM forks: children inherit the affinity mask, so the
    # executor threads, python workers, and GC threads all stay on the
    # declared core budget (the scaling study proved unpinned runs borrow
    # idle host cores and make timings incomparable)
    pinned = None
    try:
        # respect an OUTER taskset: take the first CPUS cores of the
        # current allowance, never cores outside it (sched_setaffinity is
        # not bounded by the inherited mask, and re-pinning to 0..CPUS-1
        # would stack interleaved protocol instances onto the same cores)
        allowed = sorted(os.sched_getaffinity(0))
        cores = set(allowed[:min(CPUS, len(allowed))])
        os.sched_setaffinity(0, cores)
        pinned = sorted(cores)
    except (AttributeError, OSError):
        pass  # non-Linux fallback: run unpinned, noted in extras
    # noise gate BEFORE the JVM launches (round-8 task 1): don't start
    # a multi-minute capture into a window the probes already show is
    # loaded; the wait budget bounds the stall on a busy host
    preflight = wait_for_quiet_window()
    # ui=True: the REST status API is the shuffle-byte accounting source
    # for the minhash extras (negligible overhead in local mode)
    spark = get_spark(app=f"bench-{sf_name()}", cores=CPUS,
                      shuffle_partitions=CPUS, driver_mem="12g", ui=True)
    timings: dict[str, float] = {}
    extra: dict = {}
    extra.update(preflight)
    extra["pinned_cores"] = (
        f"{pinned[0]}-{pinned[-1]}" if pinned else "unpinned")
    if sf_defaulted:
        extra["synthetic_rows_defaulted_for_unknown_sf"] = n_rows

    # ---- setup (not timed): deterministic synthetic input, cached on disk
    from parquet_playground_rs_spark.sources.generator import GEN_VERSION
    seq_path = os.path.join(
        CACHE, f"sequences_{sf_name()}_{n_rows}_g{GEN_VERSION}_snappy")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        write_sequences(spark, n_rows, seq_path, seed=42,
                        partitions=max(CPUS * 4, 64))
    seq = spark.read.parquet(seq_path)
    total_tokens = seq.agg(F.sum("n_tok")).first()[0]

    # ---- warm-up: tiny exchange job (JIT + python worker pool), not timed
    warm = spark.range(CPUS * 4, numPartitions=CPUS * 4) \
        .withColumn("tokens", F.array(F.lit(1), F.lit(2)))
    warm.mapInArrow(lambda it: it, warm.schema).count()

    out_dir = os.path.join(CACHE, f"encoded_{sf_name()}_{CPUS}")

    # ---- q_encode: the reference encode path, distributed; ONE untimed
    # warm-up rep (pays the worker-pool/JIT startup), then the median of
    # warm reps only (round-7 judge task 8), probe interleaved per rep
    def _encode():
        encoded = enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK)
        enc.write_encoded(encoded, out_dir)

    reps = timed_reps(_encode, ENCODE_REPS, tag="q_encode", warmup=True)
    timings["q_encode"] = statistics.median(reps)
    extra["encode_reps_warm_only"] = True
    extra["encode_reps_sec"] = [round(r, 3) for r in reps]
    extra["q_encode_best"] = round(min(reps), 3)
    extra["encode_tokens_per_sec"] = round(total_tokens / timings["q_encode"], 1)
    extra["encode_tokens_per_sec_best"] = round(total_tokens / min(reps), 1)
    extra["total_tokens"] = int(total_tokens)

    # ---- q_decode_verify: read back, decode, hash verify (median of 3:
    # single-shot numbers swing 2x+ with host noise)
    verdicts = []

    def _decode_verify():
        decoded = dec.decode_tokens(spark.read.parquet(out_dir))
        verdicts.append(
            dec.verify_roundtrip(seq, decoded, method="hash").first())

    reps = timed_reps(_decode_verify, 3, tag="q_decode_verify")
    timings["q_decode_verify"] = statistics.median(reps)
    extra["decode_verify_reps_sec"] = [round(r, 3) for r in reps]
    extra["q_decode_verify_best"] = round(min(reps), 3)
    extra["n_mismatch"] = int(verdicts[-1]["n_mismatch"])
    extra["decode_verify_tokens_per_sec"] = round(
        total_tokens / timings["q_decode_verify"], 1)

    # ---- join-free checksum verify (the 10^12-row verify path)
    v2s = []
    reps = timed_reps(lambda: v2s.append(dec.verify_roundtrip(
        seq, dec.decode_tokens(spark.read.parquet(out_dir)),
        method="checksum").first()), 3, tag="q_verify_checksum")
    extra["q_verify_checksum_sec"] = round(statistics.median(reps), 3)
    extra["q_verify_checksum_best"] = round(min(reps), 3)
    extra["checksum_mismatch"] = int(v2s[-1]["n_mismatch"])

    # ---- rowwise-vs-columnar decode contrast (the reference's parqbench
    # row-by-row vs columnar reader comparison, main.rs:33-39) on a
    # bounded sample — the ratio is the point, not the absolute time
    sample = spark.read.parquet(out_dir).limit(30000).cache()
    sample.count()
    t_col = t_row = 1e18  # interleaved best-of-3, like the kernel contrast
    for _ in range(3):
        t0 = time.time()
        dec.decode_tokens(sample).agg(F.sum(F.size("tokens"))).first()
        t_col = min(t_col, time.time() - t0)
        t0 = time.time()
        dec.decode_blocks_rowwise(sample).agg(F.sum(F.size("tokens"))).first()
        t_row = min(t_row, time.time() - t0)
    sample.unpersist()
    extra["decode_rowwise_over_columnar"] = round(t_row / max(t_col, 1e-9), 2)

    # same contrast at the kernel level (no Spark/scheduling overhead):
    # one output file's blobs, batch decoder vs per-row kernel loop
    import pyarrow.parquet as pq

    from parquet_playground_rs_spark.functions import batch_decode, kernels
    f0 = sorted(str(p) for p in Path(out_dir).glob("*.parquet"))[0]
    blocks = pq.read_table(f0, columns=["block"]).column("block") \
        .combine_chunks().flatten()
    t_kc = t_kr = 1e18  # interleaved best-of-3: host noise resistance
    for _ in range(3):
        t0 = time.time()
        batch_decode.decode_binary_array(blocks)
        t_kc = min(t_kc, time.time() - t0)
        t0 = time.time()
        for i in range(len(blocks)):
            kernels.decode(blocks[i].as_py())
        t_kr = min(t_kr, time.time() - t0)
    extra["kernel_rowwise_over_columnar"] = round(t_kr / max(t_kc, 1e-9), 1)
    extra["kernel_contrast_blocks"] = len(blocks)

    # ---- FSST decode contrast: a deterministic Zipfian corpus (the
    # fsst_min_ratio=2.0 shape) forced through fsst vs bitpack; the
    # measured-hybrid fsst decode must stay within ~2x of the bitpack path
    import numpy as np
    import pyarrow as pa
    rng = np.random.default_rng(11)
    zrows = [(rng.zipf(1.3, int(rng.integers(8, 600))) % 50000)
             .astype(np.int32) for _ in range(3000)]
    z_tok = sum(r.size for r in zrows)
    t_f = t_b = 1e18
    fsst_arr = pa.array([kernels.encode_fsst(r) for r in zrows],
                        type=pa.binary())
    bp_arr = pa.array([kernels.encode_bitpack(r) for r in zrows],
                      type=pa.binary())
    for _ in range(3):
        t0 = time.time()
        batch_decode.decode_binary_array(fsst_arr)
        t_f = min(t_f, time.time() - t0)
        t0 = time.time()
        batch_decode.decode_binary_array(bp_arr)
        t_b = min(t_b, time.time() - t0)
    extra["fsst_decode_tokens_per_sec"] = round(z_tok / t_f, 1)
    extra["fsst_over_bitpack_decode"] = round(t_f / max(t_b, 1e-9), 2)

    # ---- compression vs reference-config parquet (zstd + dict, plain col)
    ref_dir = os.path.join(CACHE,
                           f"reference_parquet_{sf_name()}_{n_rows}_g{GEN_VERSION}")
    if not os.path.exists(os.path.join(ref_dir, "_SUCCESS")):
        (seq.write.mode("overwrite")
         .option("parquet.enable.dictionary", "true")
         .option("compression", "zstd").parquet(ref_dir))
    ref_bytes = parquet_column_bytes(ref_dir, "tokens")
    eng_bytes = parquet_column_bytes(out_dir, "block")
    extra["reference_tokens_col_bytes"] = ref_bytes
    extra["engine_block_col_bytes"] = eng_bytes
    extra["compression_vs_reference"] = round(eng_bytes / ref_bytes, 4)

    # ---- q_encode_docs: real sf documents end-to-end (tokenize + encode;
    # the tokenized frame is persisted DURING this timing so q_token_stats
    # below measures the stats query, not a full re-tokenization)
    t0 = time.time()
    docs_seq = tokenize_documents(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")).persist()
    enc.encode_tokens(docs_seq, chunk_size=enc.DEFAULT_CHUNK) \
        .agg(F.sum("meta.output_bytes")).first()
    timings["q_encode_docs"] = time.time() - t0

    # ---- q_token_stats: oracle-style analysis query
    t0 = time.time()
    docs_seq.groupBy("source").agg(
        F.count("*"), F.sum("n_tok"), F.max("n_tok")).collect()
    timings["q_token_stats"] = time.time() - t0
    docs_seq.unpersist()

    # ---- resumable-pipeline rehearsal (extras): the north rule's own
    # resume requirement, bench-disciplined. Round 5 moved the measured
    # configuration to FILE-SCOPE commits (run_encode_job_files): the
    # resume unit is a group of input files, each commit group reads
    # only its own files, so the commit-granularity overhead is job
    # scheduling + sink commits, not re-scans or staging
    # (BENCH/BASELINE.md round-5 decomposition). One manifest-committed
    # run over the SAME cached sequences files (64 buckets, 8 per
    # commit), then a kill at 24 buckets + resume on a fresh dir.
    import shutil

    from parquet_playground_rs_spark.plans import pipeline as pl

    pipe_dir = os.path.join(CACHE, f"pipeline_{sf_name()}_{CPUS}")
    pipe_reps = []
    for i in range(4):  # rep 0 = untimed warm-up (code-path JIT),
        #                 round-7 task 8: medians over warm reps only
        shutil.rmtree(pipe_dir, ignore_errors=True)
        if i > 0:
            calibrate("q_pipeline_encode")
        t0 = time.time()
        s_full = pl.run_encode_job_files(
            spark, seq_path, pipe_dir, n_buckets=64,
            chunk_size=enc.DEFAULT_CHUNK,
            buckets_per_commit=8, concurrent_commits=8)
        if i > 0:
            pipe_reps.append(time.time() - t0)
    # MEDIAN, like every other multi-rep query (round-6 ADVICE: min here
    # against a median-based q_encode understated the overhead ratio);
    # best is reported alongside
    extra["q_pipeline_encode_sec"] = round(statistics.median(pipe_reps), 3)
    extra["q_pipeline_encode_best"] = round(min(pipe_reps), 3)
    extra["pipeline_reps_sec"] = [round(r, 3) for r in pipe_reps]
    extra["pipeline_overhead_vs_plain"] = round(
        extra["q_pipeline_encode_sec"] / timings["q_encode"], 3)
    # the overhead is a FIXED cost per commit point, not a proportional
    # tax: at bench scale 8 commits land every ~0.5 s of work, so the
    # ratio is dominated by granularity — report the per-commit cost so
    # the number scales meaningfully (8M-row certification: 1.14x, see
    # BENCH/BASELINE.md round 5)
    extra["pipeline_commit_points"] = 8
    extra["pipeline_fixed_sec_per_commit"] = round(
        max(0.0, extra["q_pipeline_encode_sec"] - timings["q_encode"]) / 8,
        3)
    extra["pipeline_mode"] = "file-scope commits"
    extra["pipeline_buckets"] = int(s_full["processed_buckets"])
    pipe_dir2 = pipe_dir + "_resume"
    shutil.rmtree(pipe_dir2, ignore_errors=True)
    try:
        pl.run_encode_job_files(spark, seq_path, pipe_dir2, n_buckets=64,
                                chunk_size=enc.DEFAULT_CHUNK,
                                buckets_per_commit=8,
                                fail_after_buckets=24)
    except RuntimeError:
        pass  # injected kill after 3 commit groups
    calibrate("q_pipeline_resume")
    t0 = time.time()
    s_res = pl.run_encode_job_files(spark, seq_path, pipe_dir2,
                                    n_buckets=64,
                                    chunk_size=enc.DEFAULT_CHUNK,
                                    buckets_per_commit=8,
                                    concurrent_commits=8)
    extra["q_pipeline_resume_sec"] = round(time.time() - t0, 3)
    extra["pipeline_resume_skipped_buckets"] = int(s_res["resumed_buckets"])
    extra["pipeline_resume_processed_buckets"] = int(
        s_res["processed_buckets"])
    extra["pipeline_file_commit_stale_cleaned"] = int(
        s_res.get("stale_commit_dirs_cleaned", 0))

    # ---- q_pipeline_compact (extras): merge the 8 commit groups the
    # full run just produced into one (the append-accretion maintenance
    # op), with the row count certified unchanged across the swap
    n_before = pl.read_encoded(spark, pipe_dir).count()
    calibrate("q_pipeline_compact")
    t0 = time.time()
    s_cmp = pl.compact_encoded_job(spark, pipe_dir,
                                   target_group_output_bytes=1 << 40)
    extra["q_pipeline_compact_sec"] = round(time.time() - t0, 3)
    extra["pipeline_compact_groups"] = [int(s_cmp["groups_before"]),
                                        int(s_cmp["groups_after"])]
    extra["pipeline_compact_files"] = [int(s_cmp["files_before"]),
                                       int(s_cmp["files_after"])]
    extra["pipeline_compact_bytes_rewritten"] = int(
        s_cmp["bytes_rewritten"])
    n_after = pl.read_encoded(spark, pipe_dir).count()
    extra["pipeline_compact_rows_preserved"] = int(n_before == n_after)

    # ---- q_minhash_dedup (extras): LLM-pipeline op end-to-end with
    # shuffle-byte accounting. The sf documents are replicated 8x with a
    # one-word mutation (near-dup groups, the realistic dedup load);
    # shingle -> minhash -> banded LSH -> candidate-first exact confirm.
    from parquet_playground_rs_spark.operators import dedup as dd

    def shuffle_totals():
        import urllib.request
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages") as r:
            stages = json.load(r)
        return (sum(s.get("shuffleReadBytes", 0) for s in stages),
                sum(s.get("shuffleWriteBytes", 0) for s in stages))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps8 = spark.range(8).withColumnRenamed("id", "rep")
    near_docs = (docs.crossJoin(reps8).select(
        (F.col("doc_id") * 8 + F.col("rep")).alias("doc_id"),
        F.concat(F.lit("rep"), F.col("rep").cast("string"),
                 F.lit(" "), F.col("text")).alias("text"))
        # the 8x crossJoin inherits the sf documents file's SINGLE input
        # split, serializing the whole shingle map side on one core (the
        # round-6 decomposition measured 11 of q_minhash's 22 s in that
        # one task). A real corpus arrives in many splits; one core-count
        # repartition of the raw docs (~35 MB at sf0.1, timed in-region)
        # restores the real-input shape the operator is designed for.
        .repartition(CPUS, "doc_id"))
    def shuffle_totals_safe():
        # ONLY the REST metrics are optional (they need the UI); an engine
        # failure in the dedup op itself must fail the bench loudly
        try:
            return shuffle_totals()
        except Exception:
            return None, None

    rd0, wr0 = shuffle_totals_safe()
    calibrate("q_minhash")
    t0 = time.time()
    pairs = dd.minhash_dedup(near_docs, n=3, k=64, bands=16, threshold=0.8)
    n_pairs = pairs.count()
    extra["q_minhash_dedup_sec"] = round(time.time() - t0, 3)
    rd1, wr1 = shuffle_totals_safe()
    extra["minhash_n_docs"] = near_docs.count()
    extra["minhash_confirmed_pairs"] = int(n_pairs)
    if rd0 is not None and rd1 is not None:
        extra["minhash_shuffle_read_bytes"] = int(rd1 - rd0)
        extra["minhash_shuffle_write_bytes"] = int(wr1 - wr0)

    # ---- IVF index contrast (extras): float unit-vector index vs the
    # product-quantized index over the sf embeddings. Round 6 stores the
    # refine floats as a second COLUMN of the PQ cells (the round-5
    # judge's top ask: the exact-refine stage used to scan the whole
    # corpus), so scan accounting is per-COLUMN compressed bytes over
    # the PRUNED cell partitions — what a column-pruned + partition-
    # pruned scan actually reads:
    #   ivf_pq_query_scan_bytes   = pq_code column of probed cells (ADC)
    #   ivf_pq_refine_scan_bytes  = unit column of probed cells (exact)
    #   ivf_float_query_scan_bytes= unit column of probed float cells
    # The old unbounded cost — the full corpus embedding column — is
    # reported as the contrast baseline corpus_embedding_col_bytes.
    from parquet_playground_rs_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    ivf_f = os.path.join(CACHE, f"ivf_float_{sf_name()}")
    ivf_q = os.path.join(CACHE, f"ivf_pq_{sf_name()}")
    for p in (ivf_f, ivf_q):
        shutil.rmtree(p, ignore_errors=True)
    sim.write_ivf_index(emb, dim, ivf_f, n_centroids=16)
    sim.write_ivf_pq_index(emb, dim, ivf_q, n_centroids=16, m=8)

    def dir_bytes(p):
        return sum(f.stat().st_size for f in Path(p).rglob("*.parquet"))

    def probed_col_bytes(p, probed, column):
        return sum(parquet_column_bytes(
            os.path.join(p, "cells", f"cell={c}"), column)
            for c in probed)

    qset = emb.orderBy("vec_id").limit(20)
    calibrate("q_ivf_pq")
    t0 = time.time()
    pq_res = sim.ivf_pq_query(qset, dim, ivf_q, k=5, nprobe=6,
                              refine=8)
    n_pq = pq_res.count()
    extra["q_ivf_pq_query_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    n_f = sim.ivf_query(qset, dim, ivf_f, k=5, nprobe=6).count()
    extra["q_ivf_float_query_sec"] = round(time.time() - t0, 3)
    # probed set for this query batch (bounded by n_centroids). At
    # sandbox scale a 20-query batch probes ~every cell of a 16-cell
    # index, so batch-level scan bytes can't show the pruning — the
    # SINGLE-query figures (_1q: nprobe/n_centroids of the index) are
    # the per-unit-of-work numbers that scale; at production shape
    # (4096 cells, nprobe~8) the probed fraction is ~0.2%.
    C = sim.read_ivf_centroids(spark, ivf_q)
    per_row = [np.argsort(-(np.array(r["unit"]) @ C.T
                            - (C * C).sum(1) / 2))[:6] + 1
               for r in sim.with_unit_vectors(qset)
               .select("unit").collect()]
    probed = sorted({int(c) for row in per_row for c in row})
    probed_1q = sorted(int(c) for c in per_row[0])
    extra["ivf_float_index_bytes"] = dir_bytes(os.path.join(ivf_f, "cells"))
    extra["ivf_pq_index_bytes"] = dir_bytes(os.path.join(ivf_q, "cells"))
    extra["ivf_pq_code_col_bytes"] = parquet_column_bytes(
        os.path.join(ivf_q, "cells"), "pq_code")
    extra["ivf_pq_unit_col_bytes"] = parquet_column_bytes(
        os.path.join(ivf_q, "cells"), "unit")
    extra["ivf_cells_total"] = int(C.shape[0])
    extra["ivf_cells_probed_batch"] = len(probed)
    extra["ivf_cells_probed_1q"] = len(probed_1q)
    extra["ivf_float_query_scan_bytes"] = probed_col_bytes(
        ivf_f, probed, "unit")
    extra["ivf_pq_query_scan_bytes"] = probed_col_bytes(
        ivf_q, probed, "pq_code")
    extra["ivf_pq_refine_scan_bytes"] = probed_col_bytes(
        ivf_q, probed, "unit")
    extra["ivf_pq_query_scan_bytes_1q"] = probed_col_bytes(
        ivf_q, probed_1q, "pq_code")
    extra["ivf_pq_refine_scan_bytes_1q"] = probed_col_bytes(
        ivf_q, probed_1q, "unit")
    extra["corpus_embedding_col_bytes"] = parquet_column_bytes(
        f"{SF_DIR}/embeddings.parquet", "embedding")
    extra["ivf_pq_result_rows"] = int(n_pq)
    extra["ivf_float_result_rows"] = int(n_f)

    # ---- IVF-PQ recall curve (round-6 judge task 7): recall@5 vs exact
    # brute force over a small (nprobe x refine) sweep at two dims (the
    # native 64-d and a 32-d slice) — a measured starting point for
    # index tuning at scale. Indexes are built once per dim; nprobe and
    # refine are query-time knobs.
    def _recall_sweep(corpus_d, dd, tag):
        qd = corpus_d.orderBy("vec_id").limit(10)
        bf_pairs = {(r["query_id"], r["neighbor_id"])
                    for r in sim.brute_force_topk(corpus_d, qd, k=5)
                    .collect()}
        out = {}
        for npb in (2, 4, 8):
            for rf in (1, 4):
                got = {(r["query_id"], r["neighbor_id"])
                       for r in sim.ivf_pq_query(qd, dd, ivf_q_d, k=5,
                                                 nprobe=npb, refine=rf)
                       .collect()}
                out[f"{tag}_np{npb}_rf{rf}"] = round(
                    len(got & bf_pairs) / max(len(bf_pairs), 1), 3)
        return out

    recall = {}
    ivf_q_d = ivf_q  # 64-d sweep reuses the index built above
    recall.update(_recall_sweep(emb, dim, f"d{dim}"))
    emb32 = emb.select("vec_id",
                       F.slice("embedding", 1, 32).alias("embedding"))
    ivf_q_d = os.path.join(CACHE, f"ivf_pq32_{sf_name()}")
    shutil.rmtree(ivf_q_d, ignore_errors=True)
    sim.write_ivf_pq_index(emb32, 32, ivf_q_d, n_centroids=16, m=8)
    recall.update(_recall_sweep(emb32, 32, "d32"))
    ivf_q_32d = ivf_q_d
    # float32 refine width (round-7 judge task 4): same corpus, same
    # deterministic centroids/codebooks, refine floats stored at half
    # the bytes — the sweep measures the narrowing against the same
    # brute-force truth, the byte extras price the refine-scan saving
    ivf_q_d = os.path.join(CACHE, f"ivf_pqf32_{sf_name()}")
    shutil.rmtree(ivf_q_d, ignore_errors=True)
    sim.write_ivf_pq_index(emb, dim, ivf_q_d, n_centroids=16, m=8,
                           unit_dtype="float32")
    recall.update(_recall_sweep(emb, dim, f"d{dim}f32"))
    extra["ivf_pq_f32_unit_col_bytes"] = parquet_column_bytes(
        os.path.join(ivf_q_d, "cells"), "unit")
    extra["ivf_pq_f32_refine_scan_bytes_1q"] = probed_col_bytes(
        ivf_q_d, probed_1q, "unit")
    extra["ivf_pq_recall"] = recall
    for p in (ivf_f, ivf_q, ivf_q_32d, ivf_q_d):
        shutil.rmtree(p, ignore_errors=True)

    # ---- production-shape ANN width rehearsal fold-in (round-7 judge
    # task 2): the 1M-vector / 256-cell build is too heavy to re-run per
    # bench, so scripts/rehearsal_ann_width.py runs it once and writes
    # BENCH/ann_width.json; the headline carries its probed-fraction and
    # scan-byte evidence so the at-scale pruning claim is MEASURED, not
    # extrapolated from the 16-cell sandbox index.
    aw_path = Path(__file__).resolve().parent / "BENCH" / "ann_width.json"
    if aw_path.exists():
        with open(aw_path) as fh:
            aw = json.load(fh)
        for k in ("n_vectors", "n_cells", "nprobe", "probed_fraction_1q",
                  "probed_fraction_batch", "code_scan_bytes_1q",
                  "refine_scan_bytes_1q", "refine_bytes_over_corpus",
                  "recall_at_10", "query_wall_sec_batch"):
            if k in aw:
                extra[f"ann_width_{k}"] = aw[k]
    aw4k_path = Path(__file__).resolve().parent / "BENCH" / \
        "ann_width_4096.json"
    if aw4k_path.exists():  # the 4,096-cell claim check (variant shape)
        with open(aw4k_path) as fh:
            aw4k = json.load(fh)
        for k in ("n_cells", "nprobe", "probed_fraction_1q",
                  "probed_row_fraction_1q", "recall_at_10"):
            if k in aw4k:
                extra[f"ann4k_{k}"] = aw4k[k]

    # ---- MinHash width rehearsal fold-in (round-7 judge task 7): the
    # ~1M-doc adversarial-skew run (planted duplicate families + a
    # degenerate-shingle block) lives in
    # scripts/rehearsal_minhash_width.py -> BENCH/minhash_width.json.
    mw_path = Path(__file__).resolve().parent / "BENCH" / \
        "minhash_width.json"
    if mw_path.exists():
        with open(mw_path) as fh:
            mw = json.load(fh)
        for k in ("n_docs", "largest_bucket_capped", "max_bucket_cap",
                  "shuffle_write_bytes", "wall_sec",
                  "sampled_families_exact", "planted_pairs_found_pct"):
            if k in mw:
                extra[f"minhash_width_{k}"] = mw[k]

    # ---- append-economics fold-in (round-7 judge task 1's scale claim:
    # a 12.5% corpus growth costs ~the growth fraction of a re-encode,
    # not a full re-encode) — scripts/rehearsal_append.py
    ae_path = Path(__file__).resolve().parent / "BENCH" / \
        "append_econ.json"
    if ae_path.exists():
        with open(ae_path) as fh:
            ae = json.load(fh)
        for k in ("n_base_rows", "growth_fraction", "append_over_regrown",
                  "append_over_full"):
            if k in ae:
                extra[f"append_econ_{k}"] = ae[k]

    # ---- index-append fold-in (round 7: a grown IVF-PQ index — half
    # built, half appended under the frozen model — holds recall within
    # ~5pp of the full build at the same nprobe, recoverable via
    # nprobe; append costs ~0.2x a build) — scripts/rehearsal_ann_append.py
    aa_path = Path(__file__).resolve().parent / "BENCH" / \
        "ann_append.json"
    if aa_path.exists():
        with open(aa_path) as fh:
            aa = json.load(fh)
        for k in ("recall_at_10", "full_build_recall_at_10",
                  "append_over_half_build", "exactly_once"):
            if k in aa:
                extra[f"ann_append_{k}"] = aa[k]

    # ---- compaction-economics fold-in (round 7, the maintenance half
    # of append: an append-accreted 24-group/200-file layout compacts
    # to 1 group for a fraction of an encode) —
    # scripts/rehearsal_compact.py
    ce_path = Path(__file__).resolve().parent / "BENCH" / \
        "compact_econ.json"
    if ce_path.exists():
        with open(ce_path) as fh:
            ce = json.load(fh)
        for k in ("groups_accreted", "compact_over_base_encode",
                  "read_compacted_over_accreted",
                  "scan_signature_preserved"):
            if k in ce:
                extra[f"compact_econ_{k}"] = ce[k]
        if "compact_summary" in ce:
            extra["compact_econ_files"] = [
                ce["compact_summary"]["files_before"],
                ce["compact_summary"]["files_after"]]

    # ---- streaming sessionizer state-scale extra (round-5): drain a
    # deterministic rotating-window stream one file per trigger and
    # report the state store's row curve — the claim under test is
    # O(open users), not O(events): max_state_rows stays at the
    # live-tail bound (~3/8 of users here) no matter how many events
    # pass through. Full-width evidence (1M users / 8M events) lives in
    # BENCH/CEILING.md via scripts/streaming_state_scale.py; this is
    # the per-round regression canary at bench scale.
    sys.path.insert(0, str(Path(__file__).resolve().parent / "scripts"))
    from streaming_state_scale import run_state_scale

    calibrate("q_streaming_state")
    t0 = time.time()
    ss = run_state_scale(spark, n_users=32_000, n_events=256_000,
                         n_slots=8)
    extra["q_streaming_sessions_state_sec"] = round(time.time() - t0, 3)
    extra["streaming_state_users"] = ss["n_users"]
    extra["streaming_state_events"] = ss["n_events"]
    extra["streaming_state_max_rows"] = ss["max_state_rows"]
    extra["streaming_state_rows_over_users"] = ss["state_rows_over_users"]
    extra["streaming_state_events_per_sec"] = ss["events_per_sec"]
    extra["streaming_state_closed_sessions"] = ss["closed_sessions"]
    extra["streaming_state_mem_bytes_max"] = max(
        (b["state_mem_bytes"] or 0) for b in ss["batches"])
    # the ADOPTED throughput path (round 8, task 5): bucketed state —
    # measured 2.7-3.6x the per-user operator at 100k users with
    # identical session sets + drop accounting on all three replay
    # orders (BENCH/streaming_bucketed_ab.json). The per-user canary
    # above stays as the cross-round continuity + semantics reference.
    calibrate("q_streaming_bucketed")
    t0 = time.time()
    sb = run_state_scale(spark, n_users=32_000, n_events=256_000,
                         n_slots=8, operator="bucket", n_buckets=256,
                         want_digest=True)
    extra["q_streaming_sessions_bucketed_sec"] = round(time.time() - t0, 3)
    extra["streaming_bucketed_events_per_sec"] = sb["events_per_sec"]
    extra["streaming_bucketed_max_state_rows"] = sb["max_state_rows"]
    extra["streaming_bucketed_speedup_vs_user"] = round(
        ss["stream_wall_sec"] / max(sb["stream_wall_sec"], 1e-9), 2)
    extra["streaming_bucketed_sessions_match"] = int(
        sb["closed_sessions"] == ss["closed_sessions"])

    # ---- host-noise indices over every interleaved calibration probe.
    # host_noise_index (max/min): flags ANY excursion; ~1.0-1.5 = quiet.
    # host_noise_index_trimmed (p90/median): outlier-robust — a single
    # stray probe can't move it, only a sustained slowdown of >10% of
    # the probes can; trust THIS one when the two disagree. Wall-clock
    # deltas of similar size to the trimmed index are NOISE, not
    # regressions (the probe runs no Spark). probe_by_query localizes a
    # spike to the query whose rep it bracketed.
    calibrate("final")
    raw_idx, trimmed_idx, by_query = noise_indices()
    extra["calib_probe_sec"] = [round(t, 4) for t in _CALIB_TIMES]
    extra["calib_gbps"] = [round(0.25 / t, 1) for t in _CALIB_TIMES]
    # three complementary signals (validated quiet-vs-loaded, round 5):
    # - trimmed p90/median flags INTRA-RUN instability (mixed windows —
    #   the dangerous kind for paired comparisons); quiet ~1.1-1.2,
    #   partially-loaded ~1.9+;
    # - a UNIFORMLY loaded window looks "stable but slow" to any ratio,
    #   so the absolute median bandwidth is reported too (quiet host
    #   reference on this box: ~17-25 GB/s);
    # - raw max/min flags any excursion (over-sensitive by design).
    extra["host_noise_index"] = round(raw_idx, 2)
    extra["host_noise_index_trimmed"] = round(trimmed_idx, 2)
    extra["calib_gbps_median"] = round(
        0.25 / statistics.median(_CALIB_TIMES), 1)
    extra["probe_by_query"] = by_query
    # the window stamp comes from the RUN's own interleaved probes —
    # the pre-flight gate reduces the odds of a loaded capture, the
    # stamp records what actually happened during it
    extra["window"] = ("quiet" if trimmed_idx <= QUIET_TRIMMED_BAR
                       else "loaded")

    spark.stop()

    # ---- output protocol (round-6 judge task 2): BENCH_r05.json came
    # back `parsed: null` because the single JSON line outgrew the
    # driver's 2000-char tail capture. The FULL extras (probe series,
    # per-rep arrays, recall table, everything) go to a side file; the
    # printed line carries the headline + a budgeted subset of scalar
    # extras, highest-priority first, trimmed to stay well inside the
    # capture window.
    side_path = str(Path(__file__).resolve().parent / "BENCH" /
                    f"extras_{sf_name()}_c{CPUS}.json")
    os.makedirs(os.path.dirname(side_path), exist_ok=True)
    with open(side_path, "w") as fh:
        json.dump({"sf": sf_name(), "cpus": CPUS,
                   "queries": {k: round(v, 3) for k, v in timings.items()},
                   "extra": extra}, fh, indent=1)

    headline_keys = [  # priority order; the budget trims from the END
        "compression_vs_reference", "n_mismatch", "checksum_mismatch",
        "encode_tokens_per_sec",
        "host_noise_index_trimmed", "calib_gbps_median",
        "q_pipeline_encode_sec", "pipeline_overhead_vs_plain",
        "q_pipeline_resume_sec", "pipeline_resume_skipped_buckets",
        "q_pipeline_compact_sec", "pipeline_compact_rows_preserved",
        "q_minhash_dedup_sec", "minhash_confirmed_pairs",
        "q_ivf_pq_query_sec", "q_ivf_float_query_sec",
        "ivf_pq_query_scan_bytes_1q", "ivf_pq_refine_scan_bytes_1q",
        "ivf_cells_probed_1q", "ivf_cells_total",
        "ann_width_n_vectors", "ann_width_n_cells",
        "ann_width_probed_fraction_1q", "ann_width_recall_at_10",
        "ann4k_probed_fraction_1q", "ann4k_recall_at_10",
        "ivf_pq_f32_refine_scan_bytes_1q", "append_econ_append_over_regrown",
        "ivf_pq_query_scan_bytes", "ivf_pq_refine_scan_bytes",
        "ivf_float_query_scan_bytes", "corpus_embedding_col_bytes",
        "fsst_over_bitpack_decode", "kernel_rowwise_over_columnar",
        "decode_rowwise_over_columnar",
        "q_verify_checksum_sec",
        "q_streaming_sessions_state_sec", "streaming_state_max_rows",
        "q_streaming_sessions_bucketed_sec",
        "streaming_bucketed_events_per_sec",
        "streaming_bucketed_speedup_vs_user",
        "host_noise_index", "q_encode_best", "pipeline_fixed_sec_per_commit",
        "pipeline_file_commit_stale_cleaned", "preflight_waited_sec",
    ]
    compact = {"extras_file": side_path}
    base = {
        "metric": "engine_bench_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf_name(),
        "cpus": CPUS,
        # never budget-trimmed: cross-round readers need these two to
        # interpret every other number in the line
        "window": extra["window"],
        "probe_gbps": extra["calib_gbps_median"],
    }
    for k in headline_keys:
        if k not in extra:
            continue
        trial = dict(compact)
        trial[k] = extra[k]
        if len(json.dumps({**base, "extra": trial})) > 1700:
            break
        compact = trial
    print(json.dumps({**base, "extra": compact}))


if __name__ == "__main__":
    main()
