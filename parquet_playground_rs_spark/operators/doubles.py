"""Doubles-column BSS encode/decode operators (reference parity E3-for-f64).

The reference forces BYTE_STREAM_SPLIT on its `sums_double` column
(/root/reference/src/bin/js2pq/main.rs:107-108, path helper :133-139); this
is the Spark twin: each row's array<double> becomes a self-describing BSS
blob (validity bitmap + 8 byte planes, functions/kernels.py:encode_bss)
via ``mapInArrow``, fully batch-vectorized — per-row transposes are ONE
fancy-index gather over the whole Arrow batch, no per-row Python.

The transpose is size-neutral; the win appears under the general-purpose
compressor (Parquet/ZSTD sink): byte planes of doubles are low-entropy per
plane, interleaved doubles are not. `bss_size_probe` quantifies that with
a deterministic DEFLATE probe per batch.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import kernels

BSS_DDL = "row_id bigint, block binary, n_vals int, n_nulls int"


def _list_f64_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ListArray<float64> -> (values f64 with element nulls as 0.0,
    element validity bool, int64 offsets). Null LIST rows must be
    coalesced to empty arrays upstream (JVM-side) — offsets of null rows
    are not trustworthy."""
    if arr.null_count:
        raise ValueError("null list rows must be coalesced upstream")
    if pa.types.is_large_list(arr.type) or arr.type.value_type != pa.float64():
        arr = arr.cast(pa.list_(pa.float64()))
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    child = arr.values
    # Normalize a sliced ListArray (offsets[0] != 0) to a 0-based frame:
    # every downstream consumer (plane gather via absolute starts, bitmap
    # pack and n_valid cumsum via cumsum(lens)) must share ONE addressing
    # convention over vals/valid.
    if offsets[0] != 0:
        child = child.slice(offsets[0], offsets[-1] - offsets[0])
        offsets = offsets - offsets[0]
    valid = np.ones(len(child), dtype=bool)
    vals = np.asarray(child.to_numpy(zero_copy_only=False), dtype="<f8")
    if child.null_count:
        valid = np.asarray(child.is_valid())
        # element nulls surface as NaN in to_numpy; zero them via the mask
        # only (a np.nan_to_num would also destroy genuine NaN values)
        vals = np.where(valid, vals, 0.0)
    return np.ascontiguousarray(vals, dtype="<f8"), valid, offsets


def _encode_bss_batch(vals: np.ndarray, valid: np.ndarray,
                      offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Whole-batch BSS: returns (uint8 data, int64 blob offsets). Blob i is
    byte-identical to kernels.encode_bss(row_i, mask_i)."""
    from ..functions.batch_encode import _copy_into, _group_pack, _put_u32

    starts = offsets[:-1]
    lens = (offsets[1:] - starts).astype(np.int64)
    n = lens.size
    nb = (lens + 7) // 8
    L = 5 + np.where(lens > 0, nb + 8 * lens, 0)
    blob_off = np.concatenate(([0], np.cumsum(L)))
    data = np.zeros(int(blob_off[-1]), dtype=np.uint8)
    off = blob_off[:-1]
    data[off] = kernels.CODEC_IDS["bss"]
    _put_u32(data, off + 1, lens)
    ne = lens > 0
    if not ne.any():
        return data, blob_off
    sel = np.flatnonzero(ne)
    # bitmaps: width-1 group pack gives per-row byte-aligned LE bitmaps
    # (valid is already the batch-concatenated element mask)
    buf, nbytes, boff = _group_pack(valid.astype(np.uint32), lens, 1)
    _copy_into(data, off + 5, buf, boff, nbytes)
    # planes: one gather. out pos p in [0,8k): plane = p // k, t = p % k,
    # src byte = (start + t) * 8 + plane
    k8 = 8 * lens[sel]
    total = int(k8.sum())
    pref = np.concatenate(([0], np.cumsum(k8)))[:-1]
    p = np.arange(total) - np.repeat(pref, k8)
    k_rep = np.repeat(lens[sel], k8)
    plane = p // k_rep
    t = p - plane * k_rep
    src = (np.repeat(starts[sel], k8) + t) * 8 + plane
    dst = np.repeat(off[sel] + 5 + nb[sel], k8) + p
    data[dst] = vals.view(np.uint8)[src]
    return data, blob_off


def encode_doubles_bss(df: DataFrame, col: str = "sumsDouble",
                       id_col: str | None = None) -> DataFrame:
    """(row_id, block, n_vals, n_nulls): BSS-encode one array<double> column.

    row_id comes from `id_col` (must be bigint) or is assigned with
    monotonically_increasing_id (partition-stable, no shuffle).
    """
    src = df.select(
        (F.col(id_col) if id_col else F.monotonically_increasing_id())
        .cast("long").alias("row_id"),
        F.coalesce(F.col(col), F.array().cast("array<double>")).alias("vals"),
    )

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            vals, valid, offsets = _list_f64_parts(batch.column("vals"))
            data, blob_off = _encode_bss_batch(vals, valid, offsets)
            if blob_off[-1] > 2**31 - 1:
                raise ValueError("encoded batch exceeds 2GiB")
            blocks = pa.Array.from_buffers(
                pa.binary(), batch.num_rows,
                [None, pa.py_buffer(blob_off.astype(np.int32)),
                 pa.py_buffer(data)])
            lens = np.diff(offsets)
            pref = np.concatenate(([0], np.cumsum(lens)))
            vsum = np.cumsum(np.concatenate(([0], valid.astype(np.int64))))
            n_valid = vsum[pref[1:]] - vsum[pref[:-1]]
            yield pa.RecordBatch.from_arrays(
                [batch.column("row_id"), blocks,
                 pa.array(lens, type=pa.int32()),
                 pa.array(lens - n_valid, type=pa.int32())],
                names=["row_id", "block", "n_vals", "n_nulls"],
            )

    return src.mapInArrow(mapper, BSS_DDL)


DECODED_BSS_DDL = "row_id bigint, vals array<double>"


def _decode_bss_batch(data: np.ndarray, blob_off: np.ndarray):
    """Whole-batch inverse of _encode_bss_batch: one gather for all planes,
    one unpackbits pass for all bitmaps. Returns (f64 values with nulls as
    0.0, validity bool, int64 row offsets)."""
    off = blob_off[:-1].astype(np.int64)
    n_rows = off.size
    if n_rows and int((blob_off[1:] - off).min()) < 5:
        raise ValueError("truncated bss blob: shorter than the 5-byte header")
    # u32 n at off+1, little-endian byte composition
    n = np.zeros(n_rows, dtype=np.int64)
    for k in range(4):
        n |= data[off + 1 + k].astype(np.int64) << (8 * k)
    if (data[off] != kernels.CODEC_IDS["bss"]).any():
        raise ValueError("non-bss blob in batch")
    nb = np.where(n > 0, (n + 7) // 8, 0)
    offsets = np.concatenate(([0], np.cumsum(n)))
    total = int(offsets[-1])
    vals = np.zeros(total, dtype="<f8")
    valid = np.ones(total, dtype=bool)
    if total == 0:
        return vals, valid, offsets
    sel = np.flatnonzero(n > 0)
    # bitmaps: gather per-row bitmap bytes contiguously, unpack once;
    # row i's bits live at [8 * cum_nb[i], 8 * cum_nb[i] + n_i)
    cum_nb = np.concatenate(([0], np.cumsum(nb)))
    bm_bytes = np.empty(int(cum_nb[-1]), dtype=np.uint8)
    r = np.arange(bm_bytes.size)
    bm_bytes[r] = data[r + np.repeat(off + 5 - cum_nb[:-1], nb)]
    bits = np.unpackbits(bm_bytes, bitorder="little")
    bit_idx = (np.arange(total)
               + np.repeat(8 * cum_nb[:-1][sel] - offsets[:-1][sel], n[sel]))
    valid = bits[bit_idx].astype(bool)
    # planes: out byte q of row i (q in [0,8n)): t = q // 8, j = q % 8,
    # src = off_i + 5 + nb_i + j * n_i + t
    k8 = 8 * n[sel]
    pref = np.concatenate(([0], np.cumsum(k8)))[:-1]
    q = np.arange(int(k8.sum())) - np.repeat(pref, k8)
    t = q >> 3
    j = q & 7
    n_rep = np.repeat(n[sel], k8)
    src = np.repeat(off[sel] + 5 + nb[sel], k8) + j * n_rep + t
    vals.view(np.uint8)[...] = data[src]
    return vals, valid, offsets


def decode_doubles_bss(encoded: DataFrame) -> DataFrame:
    """Inverse operator: (row_id, block) -> (row_id, vals array<double>)
    with element nulls restored from the validity bitmap. Batch-vectorized
    (no per-row Python): header parse via byte composition, bitmaps via one
    unpackbits, planes via one fancy-index gather."""

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            blocks = batch.column("block").combine_chunks() \
                if isinstance(batch.column("block"), pa.ChunkedArray) \
                else batch.column("block")
            if blocks.null_count:
                raise ValueError("null bss block rows are not decodable")
            bufs = blocks.buffers()
            boff = np.frombuffer(bufs[1], dtype=np.int32,
                                 count=len(blocks) + 1,
                                 offset=blocks.offset * 4).astype(np.int64)
            data = np.frombuffer(bufs[2], dtype=np.uint8, count=int(boff[-1]))
            vals, valid, offsets = _decode_bss_batch(data, boff)
            child = pa.array(vals, type=pa.float64(), mask=~valid)
            offs = pa.array(offsets, type=pa.int32())
            arr = pa.ListArray.from_arrays(offs, child)
            yield pa.RecordBatch.from_arrays(
                [batch.column("row_id"), arr], names=["row_id", "vals"])

    return encoded.select("row_id", "block").mapInArrow(mapper, DECODED_BSS_DDL)


def bss_size_probe(df: DataFrame, col: str = "sumsDouble") -> DataFrame:
    """One-row summary: DEFLATE-compressed size of the interleaved doubles
    vs their BSS byte planes (the measurable reason the reference forces
    BSS on this column). Deterministic: zlib level 6 per Arrow batch."""
    src = df.select(
        F.coalesce(F.col(col), F.array().cast("array<double>")).alias("vals"))
    ddl = ("n_rows bigint, n_vals bigint, n_nulls bigint, raw_bytes bigint, "
           "raw_deflate bigint, bss_deflate bigint")

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            vals, valid, offsets = _list_f64_parts(batch.column("vals"))
            raw = vals.tobytes()  # element nulls already zeroed
            planes = np.ascontiguousarray(
                np.frombuffer(raw, dtype=np.uint8).reshape(-1, 8).T).tobytes()
            yield pa.RecordBatch.from_arrays(
                [pa.array([batch.num_rows], pa.int64()),
                 pa.array([int(valid.size)], pa.int64()),
                 pa.array([int(valid.size - valid.sum())], pa.int64()),
                 pa.array([len(raw)], pa.int64()),
                 pa.array([len(zlib.compress(raw, 6))], pa.int64()),
                 pa.array([len(zlib.compress(planes, 6))], pa.int64())],
                names=["n_rows", "n_vals", "n_nulls", "raw_bytes",
                       "raw_deflate", "bss_deflate"],
            )

    per_batch = src.mapInArrow(mapper, ddl)
    return per_batch.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_vals").cast("long").alias("n_vals"),
        F.sum("n_nulls").cast("long").alias("n_nulls"),
        F.sum("raw_bytes").cast("long").alias("raw_bytes"),
        F.sum("raw_deflate").cast("long").alias("raw_deflate"),
        F.sum("bss_deflate").cast("long").alias("bss_deflate"),
    )
