"""Decode operator: codec blocks -> tokens, plus round-trip verification.

The Spark twin of the reference's columnar read path (`parqbench`
columnar reader + per-value checksum, /root/reference/src/bin/parqbench/
main.rs:276-333, :113-169): encoded rows stream through ONE
``mapInArrow`` — each row is a whole document whose ``block`` list holds
its blobs in order, so a batch decodes as one flat blob array and the
documents fall out of the list offsets (no reassembly shuffle, no second
scan). `verify_roundtrip` asserts exact array<int32> equality against the
source table (the reference's decode(encode(x))==x discipline,
src/vec_pq_reader.rs:821-831, made distributed).

Memory is bounded on both sides of the map. Input batches arrive capped
at 1 MiB by ``session.ENGINE_CONFS``. A stored batch can decode to many
times its size (a run-length blob of a constant document is a few
bytes), so each input batch is then cut into runs of whole rows whose
header token counts sum to at most ``DECODE_TOKEN_BUDGET``, and each run
decodes into its own output batch. A single row above the budget is a
run of its own.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import arrow_np, batch_decode, kernels

# Most tokens one output batch of a decode map carries (2 MiB of int32,
# twice the 1 MiB input cap), unless one row alone holds more. On
# pipeline_mixed it gave lower worker RSS than 2^20 without the slower
# decode of 2^18.
DECODE_TOKEN_BUDGET = 1 << 19

DECODED_DDL = "doc_id string, source string, tokens array<int>, n_tok int"

_DECODED_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("source", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
    ]
)

_ENCODED_COLS = ["doc_id", "source", "n_chunks", "block"]


def _block_offsets(batch: pa.RecordBatch) -> tuple[pa.Array, np.ndarray]:
    """(flat blob array, per-row offsets into it) of the ``block`` column.
    Raises when a row's block count disagrees with its ``n_chunks``: a
    lost or duplicated blob must fail the read, never shorten a
    document."""
    block = batch.column("block")
    if block.null_count:
        raise ValueError("null block rows are not decodable")
    offsets = arrow_np.list_offsets(block)
    n_chunks = batch.column("n_chunks")
    if n_chunks.null_count or (
            np.diff(offsets) != arrow_np.numeric_values(n_chunks)).any():
        raise ValueError(
            "block count does not match n_chunks: the encoded table lost "
            "or gained blobs")
    return block.flatten(), offsets


def _token_runs(batch: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    """Cut `batch` into slices of whole rows that each decode to at most
    DECODE_TOKEN_BUDGET tokens by their blob headers; a row over the
    budget is a slice of its own. The decode of each slice still checks
    every header against its blob."""
    if not batch.num_rows:
        return
    blobs, list_offsets = _block_offsets(batch)
    blob_tokens = batch_decode.header_token_counts(blobs)
    row_ends = np.concatenate(([0], np.cumsum(blob_tokens)))[list_offsets]
    start, n = 0, batch.num_rows
    while start < n:
        stop = int(np.searchsorted(
            row_ends, row_ends[start] + DECODE_TOKEN_BUDGET, side="right")) - 1
        stop = max(stop, start + 1)
        yield batch.slice(start, stop - start)
        start = stop


def _decoded_batch(batch: pa.RecordBatch, values: np.ndarray,
                   offsets: np.ndarray) -> pa.RecordBatch:
    if offsets[-1] > 2**31 - 1:  # an Arrow batch never carries >2^31 values
        raise ValueError("batch too large for int32 list offsets")
    tokens = pa.ListArray.from_arrays(
        arrow_np.from_numpy(offsets, pa.int32()),
        arrow_np.from_numpy(values, pa.int32()))
    return pa.RecordBatch.from_arrays(
        [batch.column("doc_id"), batch.column("source"), tokens,
         arrow_np.from_numpy(np.diff(offsets), pa.int32())],
        schema=_DECODED_ARROW_SCHEMA)


def decode_arrow_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Decode one Arrow batch of encoded documents back to token arrays.

    Batch-vectorized (functions/batch_decode.py): every blob of the batch
    decodes in one call (headers parsed with vectorized byte composition,
    packed blocks unpacked word-wise, one unpack per non-zero bit width of
    the whole batch, whatever codec a block belongs to), and each document's
    token offsets are the blob offsets taken at its list offsets.
    """
    blobs, list_offsets = _block_offsets(batch)
    values, offsets = batch_decode.decode_binary_array(blobs)
    return _decoded_batch(batch, values, offsets[list_offsets])


def decode_tokens(encoded: DataFrame) -> DataFrame:
    """Decode encoded documents: one map over the scan, no exchange.

    Output: (doc_id string, source string, tokens array<int>, n_tok int)
    """

    return encoded.select(*_ENCODED_COLS).mapInArrow(_decode_map, DECODED_DDL)


def _decode_map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """decode_tokens' map: one output batch per token-budget run."""
    for batch in batches:
        for run in _token_runs(batch):
            yield decode_arrow_batch(run)


def decode_blocks_rowwise(encoded: DataFrame) -> DataFrame:
    """Blob-by-blob decode — the S5/A6 BENCHMARK CONTRAST path, never the
    production one (mirrors the reference keeping a row-by-row Parquet
    reader purely to benchmark against its columnar reader,
    /root/reference/src/bin/parqbench/main.rs:33-39, :113-169).

    Same output as decode_tokens; each blob goes through the per-row
    kernel decoder in a Python loop. bench.py measures the ratio; the
    rowwise_columnar_equiv driver query proves the outputs identical.
    """

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for run in _token_runs(batch):
                blobs, list_offsets = _block_offsets(run)
                parts = [kernels.decode(b.as_py()) for b in blobs]
                lens = np.array([p.size for p in parts], dtype=np.int64)
                flat = np.concatenate(parts) if parts else np.empty(0, np.int32)
                offsets = np.concatenate(([0], np.cumsum(lens)))
                yield _decoded_batch(run, flat, offsets[list_offsets])

    return encoded.select(*_ENCODED_COLS).mapInArrow(mapper, DECODED_DDL)


def release_decode_cache(decoded: DataFrame) -> bool:
    """No-op kept for callers of the earlier API: decode_tokens persists
    nothing, so there is never a cache to release. Always returns False."""
    return False


def verify_roundtrip(source_df: DataFrame, decoded_df: DataFrame,
                     method: str = "exact") -> DataFrame:
    """Join on doc_id and compare token arrays.

    method="exact": shuffle the full arrays and compare element-wise —
    the bit-identical guarantee used by the test suite.
    method="hash": compare xxhash64(tokens) computed *before* the join, so
    only (doc_id, 8-byte hash) shuffles — the at-scale variant (a mismatch
    still fails; equality is probabilistic at ~2^-64 per row).
    method="checksum": NO join at all — each side reduces to
    (count, bit_xor(xxhash64(doc_id, tokens))), and since decode_tokens
    is a pure map the verify is exchange-free for every corpus, long
    documents included; the XOR is
    order-independent and overflow-free, so the verify is two partial
    aggregations (map-side combine, 16 bytes per partition shuffled).
    The cheapest 10^12-row verify: at sf0.1 the verify stage drops
    ~1.9s -> ~0.6s (decode+verify end-to-end 4.1s -> 2.7s). Caveat: XOR cancels PAIRS of identical divergences
    (the counts catch cardinality changes; content swaps of two rows
    between doc_ids are caught by hashing doc_id INTO the row hash).
    n_mismatch is 0 on match, -1 on checksum divergence (the join-free
    form cannot count individual rows).

    Returns a one-row DataFrame (n_source, n_decoded, n_joined, n_mismatch);
    a correct engine yields n_mismatch == 0 and all counts equal.
    """
    if method == "checksum":
        s = source_df.agg(
            F.count("*").alias("n_source"),
            F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("_cs"))
        d = decoded_df.agg(
            F.count("*").alias("n_decoded"),
            F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("_cd"))
        return s.crossJoin(d).select(
            "n_source", "n_decoded",
            F.least("n_source", "n_decoded").alias("n_joined"),
            # null-safe equality: bit_xor over ZERO rows aggregates to NULL
            # on both sides; a vacuously-correct empty round-trip must
            # report 0, not fall through to -1
            F.when(F.col("_cs").eqNullSafe(F.col("_cd"))
                   & (F.col("n_source") == F.col("n_decoded")), 0)
            .otherwise(-1).cast("long").alias("n_mismatch"),
        )
    if method == "hash":
        s = source_df.select(
            F.col("doc_id"), F.xxhash64(F.col("tokens")).alias("tokens_src"))
        d = decoded_df.select(
            F.col("doc_id"), F.xxhash64(F.col("tokens")).alias("tokens_dec"))
        joined = s.join(d, "doc_id", "full_outer")
        return joined.agg(
            F.count("tokens_src").alias("n_source"),
            F.count("tokens_dec").alias("n_decoded"),
            F.sum(F.when(F.col("tokens_src").isNotNull()
                         & F.col("tokens_dec").isNotNull(), 1).otherwise(0))
            .alias("n_joined"),
            F.sum(F.when(F.col("tokens_src").isNull()
                         | F.col("tokens_dec").isNull()
                         | (F.col("tokens_src") != F.col("tokens_dec")), 1)
                  .otherwise(0)).alias("n_mismatch"),
        )
    s = source_df.select(F.col("doc_id"), F.col("tokens").alias("tokens_src"))
    d = decoded_df.select(F.col("doc_id"), F.col("tokens").alias("tokens_dec"))
    joined = s.join(d, "doc_id", "full_outer")
    return joined.agg(
        F.count("tokens_src").alias("n_source"),
        F.count("tokens_dec").alias("n_decoded"),
        F.sum(
            F.when(F.col("tokens_src").isNotNull() & F.col("tokens_dec").isNotNull(), 1).otherwise(0)
        ).alias("n_joined"),
        F.sum(
            F.when(
                F.col("tokens_src").isNull()
                | F.col("tokens_dec").isNull()
                | (F.col("tokens_src") != F.col("tokens_dec")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    )
