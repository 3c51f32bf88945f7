"""Focused tests for the round-9 optimization changes: each pins the
output-equivalence contract of an operator whose INTERNALS changed.

- decode_tokens' output over tables with and without multi-block
  documents (exact equality either way);
- minhash_dedup's fused signatures+sets aggregation (pairs identical to
  the unfused composition);
- the pipeline's derived scan-task target (clamp arithmetic + cap
  behavior at rehearsal scale);
- the bucketed sessionizer's strict expiry boundary (a tail at exactly
  last + gap == watermark stays open, matching the per-user operator).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquet_playground_rs_spark.operators import decode as dec
from parquet_playground_rs_spark.operators import dedup as dd
from parquet_playground_rs_spark.operators import encode as enc


def _seq_df(spark, with_long=False):
    rows = [
        ("d0", [1, 2, 3], 3, "web"),
        ("d1", [7] * 40, 40, "code"),
        ("d2", [], 0, "web"),
    ]
    if with_long:
        rows.append(("d3", list(range(700)), 700, "web"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")


@pytest.mark.parametrize("with_long", [False, True])
def test_decode_tokens_short_circuit_equivalence(spark, tmp_path, with_long):
    """With chunk_size 256: the no-long-rows table has only single-block
    rows; the long-row table has a 3-block doc. Either way the decoded
    rows equal the source exactly."""
    src = _seq_df(spark, with_long=with_long)
    out = str(tmp_path / "enc")
    enc.write_encoded(enc.encode_tokens(src, chunk_size=256), out)
    decoded = dec.decode_tokens(spark.read.parquet(out))
    got = {r["doc_id"]: (r["tokens"], r["n_tok"])
           for r in decoded.collect()}
    want = {r["doc_id"]: (r["tokens"], r["n_tok"]) for r in src.collect()}
    assert got == want
    verdict = dec.verify_roundtrip(src, dec.decode_tokens(
        spark.read.parquet(out)), method="hash").first()
    assert verdict["n_mismatch"] == 0


def test_minhash_fused_agg_matches_unfused(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta eta theta")
         for i in range(30)],
        "doc_id long, text string")
    fused = dd.minhash_dedup(docs, n=3, k=16, bands=4, threshold=0.5)
    got = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                 for r in fused.collect())
    # unfused reference: the pre-round-9 composition
    sh = dd.word_shingles(docs, n=3)
    sigs = dd.minhash_signatures(sh, k=16)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    ref = dd.jaccard_pairs(sh, min_jaccard=0.5, pairs=cand) \
        .select("doc_a", "doc_b", "jaccard")
    want = sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                  for r in ref.collect())
    assert got == want and len(got) > 0


def test_minhash_dedup_cache_goes_with_its_frame(spark):
    """minhash_dedup's cached aggregation belongs to the frame it returns:
    once that frame is unreachable, Spark's ContextCleaner drops its blocks
    without a release call."""
    import gc
    import time

    sc = spark.sparkContext

    def cached() -> set[int]:
        # RDDInfo holds no reference to its RDD; getPersistentRDDs would
        # hand the RDDs themselves to Python and keep them reachable
        return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta eta theta")
         for i in range(30)],
        "doc_id long, text string")
    before = cached()
    pairs = dd.minhash_dedup(docs, n=3, k=16, bands=4, threshold=0.5)
    assert pairs.count() > 0
    mine = cached() - before
    assert mine
    del pairs
    for _ in range(60):
        gc.collect()
        spark._jvm.System.gc()
        if not cached() & mine:
            break
        time.sleep(0.5)
    assert not cached() & mine


def test_effective_scan_target_clamps(spark):
    from parquet_playground_rs_spark.plans import pipeline as pl

    cores = max(1, spark.sparkContext.defaultParallelism)
    # tiny pending bytes -> floor
    assert pl._effective_scan_target(spark, 1) == \
        pl.FILE_COMMIT_MIN_PARTITION_BYTES
    # rehearsal-scale pending bytes -> cap (swept 8M-row behavior kept)
    big = pl.FILE_COMMIT_TARGET_PARTITION_BYTES * 2 * cores * 10
    assert pl._effective_scan_target(spark, big) == \
        pl.FILE_COMMIT_TARGET_PARTITION_BYTES
    # mid-range -> ~2 tasks per core
    mid = 16 * (1 << 20) * 2 * cores
    assert pl._effective_scan_target(spark, mid) == 16 * (1 << 20)


class _FakeState:
    def __init__(self, tup):
        self.tup = tup
        self.hasTimedOut = True
        self.timeout = None

    @property
    def exists(self):
        return self.tup is not None

    @property
    def get(self):
        return self.tup

    def update(self, t):
        self.tup = t

    def remove(self):
        self.tup = None

    def getCurrentWatermarkMs(self):
        return int(self.wm * 1000)

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def test_bucketed_expiry_strict_boundary():
    """A tail whose deadline EQUALS the watermark must stay open (the
    per-user operator's strict gap rule / Spark's strictly-greater
    timer firing); one strictly past it must close."""
    from parquet_playground_rs_spark.streaming.sessions import (
        _sessionize_bucket_group,
    )

    gap = 300.0
    st = _FakeState(([7], [1000.0], [1700.0], [3], [9.0]))
    st.wm = 1700.0 + gap  # exactly last + gap
    out = list(_sessionize_bucket_group((0,), iter([]), st, gap))
    assert out == [] and st.exists  # kept open, state retained
    st2 = _FakeState(([7], [1000.0], [1700.0], [3], [9.0]))
    st2.hasTimedOut = True
    st2.wm = 1700.0 + gap + 0.001  # strictly past the deadline
    out2 = list(_sessionize_bucket_group((0,), iter([]), st2, gap))
    assert len(out2) == 1 and not st2.exists
    closed = out2[0]
    assert closed["user_id"].tolist() == [7]
    assert closed["session_end"].tolist() == [1700.0]
