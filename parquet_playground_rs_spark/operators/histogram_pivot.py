"""Dynamic tag pivot + touch-sum checksums + row-pack codec.

Spark-first re-expression of the reference's encode-path transforms:

- P1 tag-key union (`/root/reference/src/bin/js2pq/main.rs:54-68`):
  explode+distinct+sort instead of a driver-side HashSet.
- P2/P3 pivot with null fill (`src/columns_builder.rs:63-94`):
  `map_from_arrays` + `getItem` per inferred key — no shuffle at all
  (the reference's row loop becomes a projection); a groupBy().pivot()
  would shuffle for nothing since rows are already one-per-series.
- P4 hexify column names (`src/columns_builder.rs:164-171`).
- A1-A6 touch-sums (`src/bin/parqbench/main.rs:58-214`): the
  decode-everything checksum, as one JVM-side aggregate.
- E8/E9 row-pack codec (`src/flatbuffers.rs:10-41`): all four arrays of a
  row serialized into one binary blob + exact inverse. Unlike the
  reference's FlatBuffers packer, nulls in the sums arrays are preserved
  via validity bitmaps (the reference silently DROPS them,
  src/flatbuffers.rs:14-30 — a lossy bug we must not inherit).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tag_key_union(df: DataFrame) -> list[str]:
    """P1: sorted distinct tag keys across the table (small; collected)."""
    rows = (df.select(F.explode("tags").alias("k")).distinct()
            .orderBy("k").collect())
    return [r["k"] for r in rows]


def hexify(name: str) -> str:
    """P4: column name -> lowercase hex of its UTF-8 bytes."""
    return name.encode("utf-8").hex()


def pivot_tags(df: DataFrame, keys: list[str] | None = None,
               hex_names: bool = False) -> DataFrame:
    """P2/P3: one nullable string column per tag key; missing -> null."""
    if keys is None:
        keys = tag_key_union(df)
    m = F.map_from_arrays(F.col("tags"), F.col("tagValues"))
    cols = [m.getItem(k).alias(hexify(k) if hex_names else k) for k in keys]
    return df.select(*cols, "ts", "sumsDouble", "sumsLong", "count")


def touch_sum(df: DataFrame) -> DataFrame:
    """A1-A6: decode-forcing checksum over every column family.

    Numeric arrays sum their values (+1 per null element, the reference's
    convention, src/bin/parqbench/main.rs:58-69); string columns sum
    lengths (A2).
    """
    def arr_sum(col: str) -> Column:
        return F.aggregate(
            F.col(col), F.lit(0).cast("long"),
            lambda acc, x: acc + F.coalesce(x.cast("long"), F.lit(1)),
        )

    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(arr_sum("ts")).cast("long").alias("ts_sum"),
        F.sum(arr_sum("count")).cast("long").alias("count_sum"),
        F.sum(arr_sum("sumsLong")).cast("long").alias("sums_long_sum"),
        F.sum(F.aggregate(
            F.col("sumsDouble"), F.lit(0.0),
            lambda acc, x: acc + F.coalesce(x, F.lit(1.0)),
        )).cast("double").alias("sums_double_sum"),
        F.sum(F.aggregate(
            F.col("tagValues"), F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        )).cast("long").alias("tag_chars_sum"),
    )


PACKED_DDL = "row_id bigint, blob binary, n_points int"

_PACK_MAGIC = 0xB1


# _pack_i64/_pack_nullable define the per-row blob format (the spec the
# vectorized pack_rows must match byte-for-byte; enforced by
# tests/test_histograms.py::test_row_pack_blobs_byte_identical_...).
def _pack_i64(arr: np.ndarray) -> bytes:
    return struct.pack("<I", arr.size) + arr.astype("<i8").tobytes()


def _pack_nullable(vals: np.ndarray, mask: np.ndarray, dtype: str) -> bytes:
    bitmap = np.packbits(mask.astype(np.uint8), bitorder="little")
    return (struct.pack("<I", vals.size) + bitmap.tobytes()
            + vals.astype(dtype).tobytes())


def _list_parts(arr: pa.Array, value_type,
                np_dtype: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ListArray -> (values with nulls zeroed, element validity, offsets).
    Values are read straight from the Arrow data buffer (no to_numpy, which
    would promote nullable int64 to float64 and lose precision)."""
    if arr.type.value_type != value_type:
        arr = arr.cast(pa.list_(value_type))
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    child = arr.values
    n = len(child)
    vals = np.frombuffer(child.buffers()[1], dtype=np_dtype,
                         count=child.offset + n)[child.offset:]
    if child.null_count:
        valid = np.asarray(child.is_valid())
        vals = np.where(valid, vals, np.zeros(1, dtype=np_dtype)[0])
    else:
        valid = np.ones(n, dtype=bool)
    return np.ascontiguousarray(vals), valid, offsets


def pack_rows(df: DataFrame) -> DataFrame:
    """E8: serialize (ts, count, sumsLong, sumsDouble) per row into one
    binary blob — null-preserving, unlike the reference's FlatBuffers path.

    Whole-batch vectorized with the batch_encode buffer machinery (header
    scatters + per-section fancy-index copies + width-1 group-pack for the
    validity bitmaps); no per-row Python. Blobs are byte-identical to the
    original struct.pack formulation (unpack_blob is the gate).
    """
    from ..functions.batch_encode import _copy_into, _group_pack, _put_u32

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            n = batch.num_rows
            ts_v, _, ts_o = _list_parts(batch.column("ts"), pa.int64(), "<i8")
            c_v, _, c_o = _list_parts(batch.column("count"), pa.int64(), "<i8")
            sl_v, sl_m, sl_o = _list_parts(
                batch.column("sumsLong"), pa.int64(), "<i8")
            sd_v, sd_m, sd_o = _list_parts(
                batch.column("sumsDouble"), pa.float64(), "<f8")
            a, b = np.diff(ts_o), np.diff(c_o)
            c, d = np.diff(sl_o), np.diff(sd_o)
            nbc, nbd = (c + 7) // 8, (d + 7) // 8
            L = 1 + (4 + 8 * a) + (4 + 8 * b) \
                + (4 + nbc + 8 * c) + (4 + nbd + 8 * d)
            blob_off = np.concatenate(([0], np.cumsum(L)))
            if blob_off[-1] > 2**31 - 1:
                raise ValueError("packed batch exceeds 2GiB")
            data = np.zeros(int(blob_off[-1]), dtype=np.uint8)
            off = blob_off[:-1]
            data[off] = _PACK_MAGIC
            p = off + 1
            _put_u32(data, p, a)
            _copy_into(data, p + 4, ts_v.view(np.uint8), ts_o[:-1] * 8, 8 * a)
            p = p + 4 + 8 * a
            _put_u32(data, p, b)
            _copy_into(data, p + 4, c_v.view(np.uint8), c_o[:-1] * 8, 8 * b)
            p = p + 4 + 8 * b
            _put_u32(data, p, c)
            mbuf, mbytes, mboff = _group_pack(sl_m.astype(np.uint32), c, 1)
            _copy_into(data, p + 4, mbuf, mboff, mbytes)
            _copy_into(data, p + 4 + nbc, sl_v.view(np.uint8),
                       sl_o[:-1] * 8, 8 * c)
            p = p + 4 + nbc + 8 * c
            _put_u32(data, p, d)
            mbuf, mbytes, mboff = _group_pack(sd_m.astype(np.uint32), d, 1)
            _copy_into(data, p + 4, mbuf, mboff, mbytes)
            _copy_into(data, p + 4 + nbd, sd_v.view(np.uint8),
                       sd_o[:-1] * 8, 8 * d)
            blobs = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(blob_off.astype(np.int32)),
                 pa.py_buffer(data)])
            yield pa.RecordBatch.from_arrays(
                [batch.column("row_id"), blobs,
                 pa.array(a, type=pa.int32())],
                names=["row_id", "blob", "n_points"],
            )

    empty_i64 = F.array().cast("array<bigint>")
    empty_f64 = F.array().cast("array<double>")
    with_id = df.select(
        F.monotonically_increasing_id().alias("row_id"),
        "ts", "count",
        F.coalesce(F.col("sumsLong"), empty_i64).alias("sumsLong"),
        F.coalesce(F.col("sumsDouble"), empty_f64).alias("sumsDouble"),
    )
    return with_id.mapInArrow(mapper, PACKED_DDL)


def unpack_blob(blob: bytes):
    """E9: exact inverse of pack_rows for one blob. Returns
    (ts, count, sums_long(list incl None), sums_double(list incl None))."""
    buf = memoryview(blob)
    assert buf[0] == _PACK_MAGIC
    off = 1

    def read_i64(off):
        (k,) = struct.unpack_from("<I", buf, off)
        arr = np.frombuffer(buf, dtype="<i8", count=k, offset=off + 4)
        return arr, off + 4 + 8 * k

    def read_nullable(off, dtype, width):
        (k,) = struct.unpack_from("<I", buf, off)
        off += 4
        nb = (k + 7) // 8
        bitmap = np.frombuffer(buf, dtype=np.uint8, count=nb, offset=off)
        mask = np.unpackbits(bitmap, count=k, bitorder="little").astype(bool)
        vals = np.frombuffer(buf, dtype=dtype, count=k, offset=off + nb)
        out = [v if m else None for v, m in zip(vals.tolist(), mask)]
        return out, off + nb + width * k

    ts, off = read_i64(off)
    cnt, off = read_i64(off)
    sl, off = read_nullable(off, "<i8", 8)
    sd, off = read_nullable(off, "<f8", 8)
    return ts, cnt, sl, sd
