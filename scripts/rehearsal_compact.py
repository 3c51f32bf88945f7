#!/usr/bin/env python3
"""Compaction-economics rehearsal (round 7, the maintenance half of
append): what does a compaction buy a corpus that GREW by repeated
appends, and what does it cost?

Shape: 1M-row base encoded as 8 commit groups, then FOUR append
batches (12.5% of base each, 8 files -> 4 groups per batch) accrete
16 more groups — 24 commit groups / ~24x20 source-partitioned data
files, the small-file shape a file-per-append-batch corpus reaches.
`compact_encoded_job` then merges everything into ONE group of
~target_file_bytes files.

Measured (probe-bracketed, medians over 3 reps):
- the read-path cost of the accreted layout vs the compacted one: a
  full scan of the encoded table (count + crc checksum — scan-bound,
  file-count-sensitive). On local disk the win is file-open and task
  overhead; on an object store the same file-count reduction is
  listing + GET pressure, which is the actual 100-TB motivation.
- compaction wall + bytes rewritten (the cost side: one read + one
  write of the live data).
- exactness: decode+verify of the compacted table against the grown
  corpus, and the compact summary's own (n_rows, block_crc) read-back
  certification.

Prints ONE JSON line; writes BENCH/compact_econ.json and appends to
BENCH/COMPACT_ECON.md.
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

CACHE = os.environ.get("SPARK_GRAFT_CACHE", "/tmp/spark_graft_cache")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_BASE = int(os.environ.get("SPARK_GRAFT_COMPACT_BASE_ROWS", "1000000"))
BASE_FILES = 64
N_APPENDS = 4
GROWTH_FILES = 8          # files per append batch
GROWTH_FRAC = 0.125       # of base, per batch
READ_REPS = 3


def main() -> None:
    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(allowed[:min(CPUS, len(allowed))]))

    import bench
    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.plans import pipeline as pl
    from parquet_playground_rs_spark.session import get_spark
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.sources.generator import (
        sequences_df, write_sequences,
    )

    spark = get_spark(app="compact-econ", cores=CPUS,
                      shuffle_partitions=CPUS, driver_mem="12g")
    n_grow = int(N_BASE * GROWTH_FRAC)
    base_dir = os.path.join(CACHE, f"append_base_{N_BASE}")
    if not os.path.exists(os.path.join(base_dir, "_SUCCESS")):
        write_sequences(spark, N_BASE, base_dir, seed=42,
                        partitions=BASE_FILES)
    # self-heal: a hard kill (OOM/SIGKILL) in a prior run leaves growth
    # files inside this SHARED cached base corpus with _SUCCESS still
    # valid — sweep any grow-prefixed leftovers before trusting it
    # (rehearsal_append.py carries the same sweep for its prefix)
    for f in os.listdir(base_dir):
        if f.startswith(("cgrow", "grow-")):
            os.remove(os.path.join(base_dir, f))
    # four disjoint growth batches (id-prefixed against base collisions,
    # basename-prefixed so they are removable to restore the shared
    # cached base corpus)
    batches: list[list[tuple[str, str]]] = []
    for k in range(N_APPENDS):
        stash = os.path.join(CACHE, f"compact_grow{k}_{n_grow}")
        if not os.path.exists(os.path.join(stash, "_SUCCESS")):
            (sequences_df(spark, n_grow, seed=5001 + k,
                          partitions=GROWTH_FILES)
             .withColumn("doc_id",
                         F.concat(F.lit(f"grow{k}_"), F.col("doc_id")))
             .write.mode("overwrite").option("compression", "snappy")
             .parquet(stash))
        parts = sorted(f for f in os.listdir(stash)
                       if f.endswith(".parquet"))
        batches.append([(os.path.join(stash, f),
                         os.path.join(base_dir, f"cgrow{k}-{i:02d}-{f}"))
                        for i, f in enumerate(parts)])

    def scan_wall() -> tuple[float, int]:
        t0 = time.time()
        row = pl.read_encoded(spark, out_dir).agg(
            F.count("*").alias("n"),
            pl.block_crc().alias("crc")).first()
        return time.time() - t0, (row["n"], row["crc"])

    out: dict = {"n_base_rows": N_BASE, "base_files": BASE_FILES,
                 "n_appends": N_APPENDS, "growth_files": GROWTH_FILES,
                 "growth_fraction_per_append": GROWTH_FRAC}
    out_dir = os.path.join(CACHE, "compact_econ_out")
    added: list[str] = []
    try:
        shutil.rmtree(out_dir, ignore_errors=True)
        bench.calibrate("base")
        t0 = time.time()
        pl.run_encode_job_files(spark, base_dir, out_dir, n_buckets=64,
                                chunk_size=enc.DEFAULT_CHUNK,
                                buckets_per_commit=8,
                                concurrent_commits=8)
        out["base_encode_sec"] = round(time.time() - t0, 2)
        t_appends = []
        for batch in batches:
            for src, dst in batch:
                shutil.copyfile(src, dst)
                added.append(dst)
            t0 = time.time()
            s = pl.run_encode_job_files(spark, base_dir, out_dir,
                                        append=True,
                                        n_buckets=GROWTH_FILES,
                                        chunk_size=enc.DEFAULT_CHUNK,
                                        buckets_per_commit=2,
                                        concurrent_commits=4)
            t_appends.append(round(time.time() - t0, 2))
            assert s["appended_files"] == GROWTH_FILES, s
        out["append_secs"] = t_appends
        n_groups = len([f for f in os.listdir(
            os.path.join(out_dir, "manifest")) if f.startswith("group-")])
        out["groups_accreted"] = n_groups

        reads_before, sig0 = [], None
        for _ in range(READ_REPS):
            bench.calibrate("read_accreted")
            w, sig0 = scan_wall()
            reads_before.append(round(w, 3))
        out["read_accreted_secs"] = reads_before

        bench.calibrate("compact")
        t0 = time.time()
        s = pl.compact_encoded_job(spark, out_dir,
                                   target_group_output_bytes=1 << 40)
        out["compact_sec"] = round(time.time() - t0, 2)
        out["compact_summary"] = {
            k: s[k] for k in ("groups_before", "groups_after",
                              "files_before", "files_after",
                              "bytes_rewritten", "buckets_rewritten")}

        reads_after, sig1 = [], None
        for _ in range(READ_REPS):
            bench.calibrate("read_compacted")
            w, sig1 = scan_wall()
            reads_after.append(round(w, 3))
        out["read_compacted_secs"] = reads_after
        assert sig0 == sig1, (sig0, sig1)
        out["scan_signature_preserved"] = True

        med = statistics.median
        out["read_compacted_over_accreted"] = round(
            med(reads_after) / med(reads_before), 3)
        # cost framing: what fraction of the base encode did the
        # one-off rewrite cost?
        out["compact_over_base_encode"] = round(
            out["compact_sec"] / out["base_encode_sec"], 3)

        grown = spark.read.parquet(base_dir)
        out["verify"] = pl.verify_job(spark, grown, out_dir)
        assert out["verify"]["n_mismatch"] == 0
        assert out["verify"]["n_decoded"] == N_BASE + N_APPENDS * n_grow
        assert s["groups_after"] == 1
        assert s["files_after"] < s["files_before"] / 4
    finally:
        for p in added:
            if os.path.exists(p):
                os.remove(p)

    bench_dir = Path(__file__).resolve().parent.parent / "BENCH"
    with open(bench_dir / "compact_econ.json", "w") as fh:
        json.dump(out, fh, indent=1)
    stamp = time.strftime("%Y-%m-%d %H:%M")
    cs = out["compact_summary"]
    with open(bench_dir / "COMPACT_ECON.md", "a") as fh:
        fh.write(
            f"\n## Run {stamp} — {N_BASE:,} base rows + {N_APPENDS} "
            f"appends of {GROWTH_FRAC:.1%} (local[{CPUS}])\n\n"
            f"- accreted layout: **{cs['groups_before']} commit groups / "
            f"{cs['files_before']} data files** after {N_APPENDS} "
            f"appends (append walls {out['append_secs']} s)\n"
            f"- compaction: {cs['groups_before']} -> "
            f"**{cs['groups_after']} group / {cs['files_after']} files** "
            f"in {out['compact_sec']} s "
            f"({cs['bytes_rewritten']:,} B rewritten = "
            f"{out['compact_over_base_encode']:.2f}x the base encode "
            f"wall — the one-off cost)\n"
            f"- full-scan wall (count+crc, medians of {READ_REPS}): "
            f"{statistics.median(out['read_accreted_secs']):.2f} s "
            f"accreted -> "
            f"{statistics.median(out['read_compacted_secs']):.2f} s "
            f"compacted (ratio "
            f"{out['read_compacted_over_accreted']:.2f}; local-disk "
            f"file-open/task overhead only — on an object store the "
            f"{cs['files_before']}->{cs['files_after']} file cut is "
            f"listing+GET pressure, the actual motivation)\n"
            f"- exactness: scan signature (count, crc-sum) byte-identical "
            f"across the swap; decode+verify of the compacted table vs "
            f"the grown corpus: {out['verify']}\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
