#!/usr/bin/env python3
"""spark-submit entrypoint for the resumable encode pipeline.

The north rule's launch shape: package the engine and submit —

    zip -r engine.zip parquet_playground_rs_spark
    spark-submit --py-files engine.zip \\
        --conf spark.sql.shuffle.partitions=<4 x total cores> \\
        scripts/submit_encode.py \\
        --input  s3a://bucket/sequences/ \\
        --output s3a://bucket/encoded/ \\
        --buckets 256 --chunk-size 16384 [--verify checksum] [--resume]

The job applies the engine's cluster-safe confs (session.ENGINE_CONFS:
Arrow on, 8192-row and 1 MiB Arrow batches, Parquet page CRCs written and
checked) to every key the submit command leaves unset.

Each bucket is a fixed group of input files; buckets commit in groups,
one commit dir and one manifest file per group. Re-running the same
command after a failure resumes past completed buckets (plans/pipeline.py
manifests; --resume is implied, the flag just documents intent). Works
identically on local paths.

A growing corpus appends with `--append` (only new files are planned);
the same entrypoint runs the maintenance jobs against the output dir:

    ... submit_encode.py --output s3a://bucket/encoded/ --job compact \\
        [--no-gc] [--gc-min-age-sec 86400] [--target-group-bytes N]
    ... submit_encode.py --output ... --job vacuum --gc-min-age-sec 86400
    ... submit_encode.py --output ... --job checkpoint-catalog
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", default=None,
                    help="parquet dir of (doc_id, tokens, n_tok, source); "
                         "required for --job encode, unused by the "
                         "maintenance jobs")
    ap.add_argument("--output", required=True, help="encoded table root")
    ap.add_argument("--buckets", type=int, default=64,
                    help="resume units: the input files are dealt "
                         "round-robin (by name) into this many buckets")
    ap.add_argument("--chunk-size", type=int, default=16384)
    ap.add_argument("--buckets-per-commit", type=int, default=None,
                    help="buckets per commit group (one commit dir and "
                         "one manifest file each); default: all pending "
                         "buckets in one group")
    ap.add_argument("--concurrent-commits", type=int, default=1,
                    help="overlap N commit groups from driver threads "
                         "(each writes its own commit dir; hides fixed "
                         "per-commit costs)")
    ap.add_argument("--verify",
                    choices=["none", "chunks", "checksum", "hash", "exact"],
                    default="checksum",
                    help="'checksum' = join-free (count, xor-hash) "
                         "verify, the 10^12-row default; 'chunks' is "
                         "the same verify under its earlier name")
    ap.add_argument("--statistics", choices=["none", "chunk", "page"],
                    default="page",
                    help="parquet statistics granularity (reference E5 enum)")
    ap.add_argument("--resume", action="store_true",
                    help="documentational; resume is always on")
    ap.add_argument("--append", action="store_true",
                    help="extend the catalog with newly-"
                         "arrived input files only (committed files "
                         "keep their buckets); without it, new files "
                         "refuse loudly")
    ap.add_argument("--job",
                    choices=["encode", "compact", "vacuum",
                             "checkpoint-catalog"],
                    default="encode",
                    help="maintenance entry points on the same output "
                         "dir: 'compact' merges accreted small commit "
                         "groups (supersedes protocol), 'vacuum' "
                         "reclaims deferred superseded pairs, "
                         "'checkpoint-catalog' folds loose catalog "
                         "version files into one checkpoint")
    ap.add_argument("--gc-min-age-sec", type=float, default=0.0,
                    help="superseded-group retention (Iceberg "
                         "expire_snapshots(older_than) semantics): "
                         "pairs whose replacement published less than "
                         "this many seconds ago survive every writer's "
                         "GC pass; set the SAME value on all jobs "
                         "against the dir")
    ap.add_argument("--no-gc", action="store_true",
                    help="[compact] defer superseded-pair deletion "
                         "entirely (reclaim later with --job vacuum)")
    ap.add_argument("--target-group-bytes", type=int, default=1 << 30,
                    help="[compact] merged commit-group output size")
    ap.add_argument("--catalog-checkpoint-after", type=int, default=32,
                    help="auto-fold the catalog once more than this "
                         "many loose version files accrete (0 disables "
                         "via a negative sentinel; see "
                         "checkpoint_catalog)")
    ap.add_argument("--lock-lease-sec", type=float, default=60.0,
                    help="single-writer job-lock lease; a crashed "
                         "writer's lock is breakable after this")
    args = ap.parse_args()
    if args.job == "encode" and args.input is None:
        ap.error("--input is required for --job encode")

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from parquet_playground_rs_spark.operators import decode as dec
    from parquet_playground_rs_spark.plans import pipeline as pl
    from parquet_playground_rs_spark.session import ENGINE_CONFS

    # under spark-submit the session is configured by the submit command;
    # the engine's confs fill in only the keys it did not set. Before a
    # JVM is attached, SparkConf() is an empty Python dict, so attach
    # first: it then loads the submitted spark.* properties.
    SparkContext._ensure_initialized()
    submitted = SparkConf()
    builder = SparkSession.builder.appName("encode-job")
    for key, value in ENGINE_CONFS.items():
        if not submitted.contains(key):
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if args.job != "encode":
        if args.job == "compact":
            summary = pl.compact_encoded_job(
                spark, args.output,
                target_group_output_bytes=args.target_group_bytes,
                statistics=args.statistics, gc=not args.no_gc,
                gc_min_age_sec=args.gc_min_age_sec,
                lock_lease_sec=args.lock_lease_sec)
        elif args.job == "vacuum":
            summary = {"superseded_groups_collected": pl.vacuum_encoded(
                spark, args.output, min_age_sec=args.gc_min_age_sec,
                lock_lease_sec=args.lock_lease_sec)}
        else:
            summary = pl.checkpoint_catalog(
                spark, args.output, lock_lease_sec=args.lock_lease_sec)
        print(json.dumps(summary))
        return
    summary = pl.run_encode_job_files(
        spark, args.input, args.output, n_buckets=args.buckets,
        chunk_size=args.chunk_size,
        buckets_per_commit=args.buckets_per_commit,
        statistics=args.statistics,
        concurrent_commits=args.concurrent_commits,
        append=args.append,
        gc_min_age_sec=args.gc_min_age_sec,
        catalog_checkpoint_after=args.catalog_checkpoint_after,
        lock_lease_sec=args.lock_lease_sec)
    if args.verify != "none":
        method = "checksum" if args.verify == "chunks" else args.verify
        decoded = dec.decode_tokens(pl.read_encoded(spark, args.output))
        row = dec.verify_roundtrip(spark.read.parquet(args.input), decoded,
                                   method=method).first()
        summary["verify"] = {k: int(row[k]) for k in
                             ("n_source", "n_decoded", "n_joined", "n_mismatch")}
        if row["n_mismatch"] != 0:
            print(json.dumps(summary))
            raise SystemExit("round-trip verification FAILED")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
