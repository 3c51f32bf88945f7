#!/usr/bin/env python3
"""8M-row (~3.1B-token) rehearsal: resumable-pipeline commit overhead vs
plain encode, with the round-5 protocol refinements.

What round 4 asked and what this measures:
- commit-granularity overhead of the resumable pipeline at 8M rows
  (round-4 verdict bar: <=1.3x plain). Round 5 re-designed the pipeline
  around FILE-SCOPE commits after decomposing the alternatives at this
  scale (see BENCH/BASELINE.md round 5):
    staging the raw chunked tokens  -> 8.2x  (the materialization alone
                                             costs ~6x the encode)
    per-group source re-scans       -> 2.35x (round 4's design)
    file-scope commit groups        -> measured here, interleaved
- plain and pipeline runs are INTERLEAVED (plain, pipe, plain, pipe...)
  with the bench's stream probe bracketing each: this host's encode
  wall swings up to 2x on page-cache/JVM state with flat probes, so
  only paired ratios and medians are reported;
- cold-vs-warm (round-4 task 8): the first pass after generation is
  reported separately ("first"); every ratio is computed warm-vs-warm;
- kill at 24/64 buckets + resume on a fresh dir (file mode);
- decode + join-free checksum verify of the pipeline's own output at
  3.1B tokens.

Prints ONE JSON line; paste into BENCH/BASELINE.md round-5.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402  (probe + pinning helpers)

CACHE = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/spark_graft_cache")
N_ROWS = int(os.environ.get("SPARK_GRAFT_REHEARSAL_ROWS", "8000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PAIRS = int(os.environ.get("SPARK_GRAFT_REHEARSAL_PAIRS", "3"))


def main() -> None:
    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(allowed[:min(CPUS, len(allowed))]))

    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import decode as dec
    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.plans import pipeline as pl
    from parquet_playground_rs_spark.session import get_spark
    from parquet_playground_rs_spark.sources.generator import (
        GEN_VERSION,
        write_sequences,
    )

    spark = get_spark(app="rehearsal-8m", cores=CPUS,
                      shuffle_partitions=CPUS, driver_mem="16g")
    out: dict = {"n_rows": N_ROWS, "cpus": CPUS,
                 "pipeline_mode": "file-scope commits "
                                  "(64 buckets, 8/commit, 8 concurrent)"}

    seq_path = os.path.join(CACHE, f"sequences_8m_{N_ROWS}_g{GEN_VERSION}")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        t0 = time.time()
        write_sequences(spark, N_ROWS, seq_path, seed=42,
                        partitions=max(CPUS * 8, 256))
        out["generate_sec"] = round(time.time() - t0, 1)
        out["input_cache_state"] = "cold (freshly generated)"
    else:
        out["input_cache_state"] = "preexisting (cache state unknown)"
    seq = spark.read.parquet(seq_path)
    out["total_tokens"] = int(seq.agg(F.sum("n_tok")).first()[0])

    warm = spark.range(CPUS * 4, numPartitions=CPUS * 4) \
        .withColumn("tokens", F.array(F.lit(1)))
    warm.mapInArrow(lambda it: it, warm.schema).count()

    enc_dir = os.path.join(CACHE, "rehearsal_8m_plain")
    pipe_dir = os.path.join(CACHE, "rehearsal_8m_pipe")

    def plain() -> float:
        t0 = time.time()
        enc.write_encoded(
            enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK), enc_dir)
        return time.time() - t0

    def pipe() -> float:
        shutil.rmtree(pipe_dir, ignore_errors=True)
        t0 = time.time()
        pl.run_encode_job_files(spark, seq_path, pipe_dir, n_buckets=64,
                                chunk_size=enc.DEFAULT_CHUNK,
                                buckets_per_commit=8, concurrent_commits=8)
        return time.time() - t0

    # first pass = whatever cache state the run started in
    bench.calibrate("first")
    out["plain_first_sec"] = round(plain(), 2)
    # interleaved warm pairs
    pairs = []
    for _ in range(PAIRS):
        bench.calibrate("plain")
        p = plain()
        bench.calibrate("pipeline")
        f = pipe()
        pairs.append((round(p, 2), round(f, 2), round(f / p, 3)))
    out["pairs_plain_pipe_ratio"] = pairs
    out["plain_warm_median"] = statistics.median(p for p, _, _ in pairs)
    out["pipeline_warm_median"] = statistics.median(f for _, f, _ in pairs)
    out["pipeline_overhead_vs_plain_warm"] = round(
        out["pipeline_warm_median"] / out["plain_warm_median"], 3)
    out["pipeline_overhead_pair_median"] = statistics.median(
        r for _, _, r in pairs)
    out["plain_tokens_per_sec_warm"] = round(
        out["total_tokens"] / out["plain_warm_median"], 0)

    # ---- kill + resume on a fresh dir (file mode)
    res_dir = pipe_dir + "_resume"
    shutil.rmtree(res_dir, ignore_errors=True)
    try:
        pl.run_encode_job_files(spark, seq_path, res_dir, n_buckets=64,
                                chunk_size=enc.DEFAULT_CHUNK,
                                buckets_per_commit=8,
                                fail_after_buckets=24)
    except RuntimeError:
        pass
    bench.calibrate("resume")
    t0 = time.time()
    sr = pl.run_encode_job_files(spark, seq_path, res_dir, n_buckets=64,
                                 chunk_size=enc.DEFAULT_CHUNK,
                                 buckets_per_commit=8,
                                 concurrent_commits=8)
    out["resume_sec"] = round(time.time() - t0, 2)
    out["resume_skipped"] = int(sr["resumed_buckets"])
    out["resume_processed"] = int(sr["processed_buckets"])

    # ---- round-trip at 3.1B tokens against the pipeline's own output
    bench.calibrate("verify")
    t0 = time.time()
    decoded = dec.decode_tokens(pl.read_encoded(spark, pipe_dir))
    v = dec.verify_roundtrip(seq, decoded, method="checksum").first()
    out["verify_checksum_sec"] = round(time.time() - t0, 2)
    out["verify_tokens_per_sec"] = round(
        out["total_tokens"] / (time.time() - t0), 0)
    out["n_mismatch"] = int(v["n_mismatch"])
    out["n_joined"] = int(v["n_joined"])

    raw_idx, trimmed_idx, by_q = bench.noise_indices()
    out["host_noise_index"] = round(raw_idx, 2)
    out["host_noise_index_trimmed"] = round(trimmed_idx, 2)
    out["probe_by_query"] = by_q

    for p in (enc_dir, pipe_dir, res_dir):
        shutil.rmtree(p, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
