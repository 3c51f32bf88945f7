#!/usr/bin/env python3
"""Capture .explain("formatted") for the round-9-touched query paths.

Writes plans/r09/<query>_{before,after}.txt. "before" is captured by
running THIS script inside a git worktree of the round-start commit
(pass --label before there); "after" from the current tree (--label
after). The queries and inputs are identical either way, so the plan
diff isolates the round-9 code/conf changes.

Covered (touched this round):
- minhash_pairs      minhash_dedup over the bench's replicated docs
- verify_hash        decode_tokens + verify_roundtrip(method="hash")
- verify_checksum    the join-free checksum verify
- pipeline_group_scan one file-commit group's tagged scan+encode frame
- encode / decode    headline paths (conf-level changes only)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

LABEL = "after"
if "--label" in sys.argv:
    LABEL = sys.argv[sys.argv.index("--label") + 1]
OUT_DIR = Path(sys.argv[sys.argv.index("--out") + 1]) if "--out" in sys.argv \
    else Path(__file__).resolve().parent.parent / "plans" / "r09"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from parquet_playground_rs_spark.operators import decode as dec
    from parquet_playground_rs_spark.operators import dedup as dd
    from parquet_playground_rs_spark.operators import encode as enc
    from parquet_playground_rs_spark.session import get_spark

    OUT_DIR.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app=f"plans-r09-{LABEL}", cores=CPUS,
                      shuffle_partitions=CPUS, driver_mem="12g")

    def emit(name: str, df, execute: bool = False) -> None:
        p = OUT_DIR / f"{name}_{LABEL}.txt"
        text = plan_of(df)
        if execute:
            # AQE decisions (broadcast conversion, coalescing) only show
            # in the POST-EXECUTION plan; append it for the queries whose
            # round-9 claim is an AQE rewrite. Execute the DataFrame's
            # OWN queryExecution (collect — the verdict frame is one
            # row), not a separate sink query.
            df.collect()
            text += ("\n\n== final adaptive plan (after execution) ==\n"
                     + df._jdf.queryExecution().executedPlan().toString())
        p.write_text(text)
        print("wrote", p)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps8 = spark.range(8).withColumnRenamed("id", "rep")
    near_docs = (docs.crossJoin(reps8).select(
        (F.col("doc_id") * 8 + F.col("rep")).alias("doc_id"),
        F.concat(F.lit("rep"), F.col("rep").cast("string"),
                 F.lit(" "), F.col("text")).alias("text"))
        .repartition(CPUS, "doc_id"))
    emit("minhash_pairs",
         dd.minhash_dedup(near_docs, n=3, k=64, bands=16, threshold=0.8))

    from parquet_playground_rs_spark.sources.generator import (
        GEN_VERSION, write_sequences,
    )
    n_rows = 1_000_000 if SF_DIR.endswith("sf0.1") else 100_000
    seq_path = os.path.join(
        "/tmp/spark_graft_cache",
        f"sequences_{os.path.basename(SF_DIR)}_{n_rows}_g{GEN_VERSION}_snappy")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        write_sequences(spark, n_rows, seq_path, seed=42,
                        partitions=max(CPUS * 4, 64))
    seq = spark.read.parquet(seq_path)
    out_dir = os.path.join("/tmp/spark_graft_cache",
                           f"encoded_{os.path.basename(SF_DIR)}_{CPUS}")
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        enc.write_encoded(enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK),
                          out_dir)
    emit("encode", enc.encode_tokens(seq, chunk_size=enc.DEFAULT_CHUNK))
    emit("verify_hash", dec.verify_roundtrip(
        seq, dec.decode_tokens(spark.read.parquet(out_dir)), method="hash"),
        execute=True)
    emit("verify_checksum", dec.verify_roundtrip(
        seq, dec.decode_tokens(spark.read.parquet(out_dir)),
        method="checksum"))
    spark.stop()


if __name__ == "__main__":
    main()
