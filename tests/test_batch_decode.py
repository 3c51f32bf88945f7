"""Vectorized batch decode == per-row kernel decode, bit for bit."""

import itertools
import struct

import numpy as np
import pyarrow as pa
import pytest

from parquet_playground_rs_spark.functions import batch_decode, batch_encode, kernels
from tests.test_batch_encode import make_batch
from tests.test_kernels import EDGE_ARRAYS

rng = np.random.default_rng(7)


def roundtrip(arrays):
    values, offsets = make_batch(arrays)
    blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
    blocks = pa.array([bytes(b) for b in blobs], type=pa.binary())
    out_vals, out_offs = batch_decode.decode_binary_array(blocks)
    assert out_offs[-1] == sum(a.size for a in arrays)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(out_vals[out_offs[i]: out_offs[i + 1]], a)


def test_edge_arrays():
    roundtrip(list(EDGE_ARRAYS.values()))


def test_per_codec_forced_blobs():
    """Blobs produced by the per-row kernels (all six codecs) decode too."""
    arrays, blobs = [], []
    for name, arr in EDGE_ARRAYS.items():
        for codec in kernels.TOKEN_CODECS:
            arrays.append(arr)
            blobs.append(kernels.encode(arr, codec))
    blocks = pa.array(blobs, type=pa.binary())
    out_vals, out_offs = batch_decode.decode_binary_array(blocks)
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(out_vals[out_offs[i]: out_offs[i + 1]], a)


def test_random_batches():
    for trial in range(4):
        arrays = []
        for _ in range(300):
            kind = rng.integers(0, 6)
            n = int(rng.integers(0, 200))
            if kind == 0:
                a = np.full(n, 7, dtype=np.int32)
            elif kind == 1:
                a = rng.integers(0, 16, n).astype(np.int32)
            elif kind == 2:
                a = np.cumsum(rng.integers(0, 9, n)).astype(np.int32)
            elif kind == 3:
                a = rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int64).astype(np.int32)
            elif kind == 4:
                a = (rng.integers(0, 4, n) * 999_999_937 % (2**31)).astype(np.int32)
            else:
                a = np.repeat(rng.integers(0, 3, max(n // 7, 1)), 7)[:n].astype(np.int32)
            arrays.append(a)
        roundtrip(arrays)


def test_sliced_binary_array():
    """Decode must honor pyarrow array offsets (sliced input)."""
    arrays = [np.arange(50, dtype=np.int32), np.full(30, 5, np.int32),
              np.array([], np.int32), np.arange(100, 0, -1).astype(np.int32)]
    values, offsets = make_batch(arrays)
    blobs, _, _, _ = batch_encode.encode_batch(values, offsets)
    blocks = pa.array([bytes(b) for b in blobs], type=pa.binary())
    sl = blocks.slice(1, 2)
    out_vals, out_offs = batch_decode.decode_binary_array(sl)
    np.testing.assert_array_equal(out_vals[out_offs[0]: out_offs[1]], arrays[1])
    np.testing.assert_array_equal(out_vals[out_offs[1]: out_offs[2]], arrays[2])


def test_one_unpack_per_bit_width(monkeypatch):
    """Every packed block of a batch goes through one read: bitpack
    values, fordelta deltas, RLE run values and run lengths and dict codes
    of the same bit width unpack in ONE _unpack_group call, whatever codec
    they belong to; width-0 blocks need no unpack. Widths here: 4 in every
    codec, 3 in bitpack and RLE run values, 0 in RLE run lengths."""
    vals16 = np.arange(16, dtype=np.int64) * 134217727 - 2**30
    rows = [(np.arange(40) % 16, "bitpack"),
            (np.arange(40) % 8 + 100, "bitpack"),
            (np.cumsum(np.arange(60) % 16), "fordelta"),
            (np.repeat(np.arange(16), np.arange(1, 17)), "rle"),
            (np.repeat(np.arange(8), 5), "rle"),
            (vals16[np.arange(256) % 16], "dict"),
            (np.arange(30), "plain")]
    arrays = [np.asarray(a, dtype=np.int64).astype(np.int32) for a, _ in rows]
    blobs = [kernels.encode(a, c) for a, (_, c) in zip(arrays, rows)]
    calls = []
    unpack_group = batch_decode._unpack_group

    def counting(payload_bytes, counts, width, row_payload_starts):
        calls.append(width)
        return unpack_group(payload_bytes, counts, width, row_payload_starts)

    monkeypatch.setattr(batch_decode, "_unpack_group", counting)
    vals, offs = batch_decode.decode_binary_array(
        pa.array(blobs, type=pa.binary()))
    assert sorted(calls) == [3, 4]
    for i, blob in enumerate(blobs):
        np.testing.assert_array_equal(vals[offs[i]:offs[i + 1]],
                                      kernels.decode(blob))


def test_faster_than_per_row():
    import time
    arrays = []
    for _ in range(3000):
        n = int(rng.integers(64, 512))
        arrays.append(np.cumsum(rng.integers(0, 37, n)).astype(np.int32))
    values, offsets = make_batch(arrays)
    blobs, _, _, _ = batch_encode.encode_batch(values, offsets)
    blocks = pa.array([bytes(b) for b in blobs], type=pa.binary())
    batch_decode.decode_binary_array(blocks)  # warm
    t_batch = t_row = 1e9
    for _ in range(7):  # best-of-7: the CI box is noisy (shared hypervisor)
        t0 = time.perf_counter()
        batch_decode.decode_binary_array(blocks)
        t_batch = min(t_batch, time.perf_counter() - t0)
        t0 = time.perf_counter()
        for b in blobs:
            kernels.decode(b)
        t_row = min(t_row, time.perf_counter() - t0)
    # generous margin: this guards against a pathological regression (batch
    # path degenerating to per-row), not micro-speedups; host noise is 3x.
    assert t_batch < t_row * 2.0, (t_batch, t_row)


def test_fsst_blobs_of_every_size_decode_in_a_mixed_batch():
    """FSST blobs from 1 to 16384 tokens (one whole chunk), with 1-3
    rounds, odd-length code streams (tail bytes) and extreme values,
    interleaved with non-FSST blobs in one batch, decode exactly."""
    rng2 = np.random.default_rng(31)
    rows = [(rng2.zipf(1.3, n) % 500).astype(np.int32)
            for n in (1, 3, 17, 100, 1024, 1025, 5000, 16384)]
    rows.append(np.array([2**31 - 1, -(2**31), 0, -1], np.int32))
    rows.append(np.full(40, 7, np.int32))
    lightweight = itertools.cycle(kernels.TOKEN_CODECS[:5])
    arrays, blobs = [], []
    for mr in (1, 2, 3):
        for r in rows:
            arrays += [r, r]
            blobs += [kernels.encode_fsst(r, max_rounds=mr),
                      kernels.encode(r, next(lightweight))]
    assert {b[9] for b in blobs[::2]} == {1, 2, 3}  # every round count
    vals, offs = batch_decode.decode_binary_array(pa.array(blobs, type=pa.binary()))
    for i, a in enumerate(arrays):
        np.testing.assert_array_equal(vals[offs[i]:offs[i + 1]], a,
                                      err_msg=f"blob {i}")


def test_batch_decode_rejects_undecodable_input():
    """r3: rows no codec branch claims must raise, never ship
    uninitialized output bytes."""
    import pyarrow as pa
    import pytest

    from parquet_playground_rs_spark.functions import batch_decode as bd

    good = kernels.encode_bitpack(np.arange(10, dtype=np.int32))
    with pytest.raises(ValueError, match="unknown codec"):
        bd.decode_binary_array(
            pa.array([good, b"\xee" + good[1:]], type=pa.binary()))
    with pytest.raises(ValueError, match="truncated"):
        bd.decode_binary_array(pa.array([good, b"\x01\x02"], type=pa.binary()))
    with pytest.raises(ValueError, match="null"):
        bd.decode_binary_array(pa.array([good, None], type=pa.binary()))
    # bss blobs belong to the doubles column, not the token table
    with pytest.raises(ValueError, match="unknown codec"):
        bd.decode_binary_array(pa.array(
            [kernels.encode_bss(np.array([1.0]))], type=pa.binary()))



def test_dict_code_that_wraps_negative_raises():
    """A self-consistent dict blob whose codes are packed at width 64 can
    carry a code of 2^64 - 1, which reads back as -1: it is outside the
    dictionary and must raise like the per-row kernel, never gather
    another dictionary slot."""
    import pytest

    codes = (2**64 - 1) | 1 << 64
    blob = (struct.pack("<BII2i", kernels.CODEC_IDS["dict"], 2, 2, 11, 22)
            + struct.pack("<IqB", 2, 0, 64) + codes.to_bytes(16, "little"))
    with pytest.raises(ValueError, match="dict code outside"):
        kernels.decode(blob)
    good = kernels.encode(np.arange(3, dtype=np.int32), "plain")
    with pytest.raises(ValueError, match="dict code outside"):
        batch_decode.decode_binary_array(
            pa.array([good, blob], type=pa.binary()))

def _packed_count_offsets(blob: bytes) -> list[int]:
    """Byte offsets of the u32 counts of a non-empty blob's packed blocks."""
    codec = kernels.blob_codec(blob)
    if codec == "bitpack":
        return [5]
    if codec == "fordelta":
        return [13]
    if codec == "rle":
        (runs,) = struct.unpack_from("<I", blob, 5)
        return [5, 18 + (runs * blob[17] + 7) // 8]
    if codec == "dict":
        (dict_size,) = struct.unpack_from("<I", blob, 5)
        return [9 + 4 * dict_size]
    return []  # plain and fsst carry no packed block


def _fsst_count_fields(blob: bytes) -> list[tuple[str, int, str]]:
    """(name, byte offset, struct format) of a non-empty FSST blob's
    counts: each round's n_sym and n_items, then n_codes (the layout in
    kernels.encode_fsst)."""
    (n_rounds,) = struct.unpack_from("<B", blob, 9)
    off, fields = 10, []
    for r in range(n_rounds):
        (n_sym,) = struct.unpack_from("<H", blob, off)
        fields.append((f"round {r} n_sym", off, "<H"))
        off += 2 + 2 * n_sym
        (n_items,) = struct.unpack_from("<I", blob, off)
        fields.append((f"round {r} n_items", off, "<I"))
        nb = (n_items + 7) // 8
        in_table = np.unpackbits(np.frombuffer(blob, np.uint8, nb, off + 4),
                                 count=n_items, bitorder="little")
        off += 4 + nb + 2 * (n_items - int(in_table.sum()))
        if r < n_rounds - 1:
            off += 1 + blob[off]  # tail flag [+ tail code]
    return fields + [("n_codes", off, "<I")]


def _with_field(blob: bytes, pos: int, fmt: str, delta: int) -> bytes | None:
    """blob with the field at pos moved by delta; None if it would wrap."""
    (v,) = struct.unpack_from(fmt, blob, pos)
    if not 0 <= v + delta < 1 << (8 * struct.calcsize(fmt)):
        return None
    return blob[:pos] + struct.pack(fmt, v + delta) + \
        blob[pos + struct.calcsize(fmt):]


def _corruptions(blob: bytes):
    yield "cut by 1 byte", blob[:-1]
    if len(blob) > 5:
        yield "cut to 5 bytes", blob[:5]
    yield "extended by 1 byte", blob + b"\x00"
    fields = [("n_tok", 1, "<I")]
    if struct.unpack_from("<I", blob, 1)[0]:
        fields += [(f"packed count at +{p}", p, "<I")
                   for p in _packed_count_offsets(blob)]
        if kernels.blob_codec(blob) == "fsst":
            fields += _fsst_count_fields(blob)
    for name, pos, fmt in fields:
        for delta in (1, -1):
            bad = _with_field(blob, pos, fmt, delta)
            if bad is not None:
                yield f"{name} {delta:+d}", bad


def _assert_value_error(fn, what: str) -> None:
    try:
        fn()
    except ValueError:
        return
    raise AssertionError(f"{what}: decoded without raising")


def test_blob_whose_length_disagrees_with_its_header_fails_the_read():
    """Corrupt input raises ValueError, never decodes into wrong tokens.

    A batch holds every codec's blob of every edge array. Each blob in
    turn is cut by 1 byte, cut to its 5-byte header, extended by 1 byte,
    or has its n_tok, one of its packed-block counts or one of FSST's
    n_sym, n_items and n_codes moved by +-1 (a move that would wrap is
    skipped); the batch decoder and the reference kernel must both
    raise."""
    blobs = [kernels.encode(a, c)
             for a in EDGE_ARRAYS.values() for c in kernels.TOKEN_CODECS]
    batch_decode.decode_binary_array(pa.array(blobs, type=pa.binary()))
    n_cases = 0
    for i, blob in enumerate(blobs):
        for what, bad in _corruptions(blob):
            what = f"blob {i} ({kernels.blob_codec(blob)}) {what}"
            batch = pa.array(blobs[:i] + [bad] + blobs[i + 1:],
                             type=pa.binary())
            _assert_value_error(
                lambda: batch_decode.decode_binary_array(batch), what)
            _assert_value_error(lambda: kernels.decode(bad), what)
            n_cases += 1
    assert n_cases > 6 * len(blobs)


# Self-consistent FSST blobs whose codes disagree with their round: the
# first has an empty symbol table but marks two of its four items as
# in-table, with no codes to fill them; the second has a one-symbol table
# and code 1.
FSST_EMPTY_TABLE = (struct.pack("<BIIB", 5, 2, 8, 1) + struct.pack("<H", 0)
                    + struct.pack("<I", 4) + bytes([0b0011])
                    + struct.pack("<2H", 7, 0) + struct.pack("<I", 0))
FSST_CODE_PAST_TABLE = (struct.pack("<BIIB", 5, 1, 4, 1)
                        + struct.pack("<HH", 1, 0) + struct.pack("<I", 2)
                        + bytes([0b01]) + struct.pack("<H", 0)
                        + struct.pack("<IB", 1, 1))


@pytest.mark.parametrize("blob", [FSST_EMPTY_TABLE, FSST_CODE_PAST_TABLE],
                         ids=["empty_table", "code_past_table"])
def test_fsst_codes_that_disagree_with_their_round_raise(blob):
    """A code count other than the escape bitmap's in-table count, or a
    code at or past the table size, raises ValueError on both decode
    paths (not garbage tokens, not IndexError)."""
    with pytest.raises(ValueError, match="fsst round 0 codes"):
        kernels.decode(blob)
    good = kernels.encode(np.arange(10, dtype=np.int32), "bitpack")
    with pytest.raises(ValueError, match="fsst round 0 codes"):
        batch_decode.decode_binary_array(
            pa.array([good, blob], type=pa.binary()))
