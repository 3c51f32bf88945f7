"""Batch-vectorized encode must decode identically to the per-row kernels."""

import numpy as np
import pytest

from parquet_playground_rs_spark.functions import batch_encode, kernels, selector
from tests.test_kernels import EDGE_ARRAYS

rng = np.random.default_rng(123)


def make_batch(arrays):
    values = np.concatenate([a for a in arrays]) if arrays else np.empty(0, np.int32)
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    for i, a in enumerate(arrays):
        offsets[i + 1] = offsets[i] + a.size
    return values.astype(np.int32), offsets


def test_edge_arrays_roundtrip():
    arrays = list(EDGE_ARRAYS.values())
    values, offsets = make_batch(arrays)
    blobs, cids, s, aux = batch_encode.encode_batch(values, offsets)
    assert len(blobs) == len(arrays)
    for blob, arr in zip(blobs, arrays):
        np.testing.assert_array_equal(kernels.decode(blob), arr)


def test_stats_match_per_row():
    arrays = list(EDGE_ARRAYS.values())
    values, offsets = make_batch(arrays)
    s = batch_encode.batch_stats(values, offsets)
    for i, arr in enumerate(arrays):
        ref = selector.compute_stats(arr)
        assert s["n_tok"][i] == ref.n
        if ref.n:
            assert s["min"][i] == ref.min_val, i
            assert s["max"][i] == ref.max_val, i
            assert s["n_runs"][i] == ref.n_runs, i
            assert s["dmin"][i] == ref.delta_min, i
            assert s["dmax"][i] == ref.delta_max, i


def test_stats_wide_span_rows_exact():
    """Rows whose value span >= 2^31 (33-bit deltas) must get exact delta
    ranges from the int64 side pass, interleaved with narrow rows that take
    the int32 fast path."""
    wide1 = np.array([-(2**31), 2**31 - 1, 0, -(2**31), 5], dtype=np.int32)
    narrow = np.cumsum(rng.integers(0, 9, 50)).astype(np.int32)
    wide2 = np.array([2**31 - 1, -(2**31)], dtype=np.int32)
    arrays = [narrow, wide1, narrow[::-1].copy(), wide2, narrow]
    values, offsets = make_batch(arrays)
    s = batch_encode.batch_stats(values, offsets)
    for i, a in enumerate(arrays):
        ref = selector.compute_stats(a)
        assert s["dmin"][i] == ref.delta_min, (i, s["dmin"][i], ref.delta_min)
        assert s["dmax"][i] == ref.delta_max, (i, s["dmax"][i], ref.delta_max)
        assert s["n_runs"][i] == ref.n_runs
    # and the full encode of this batch still round-trips
    blobs, _, _, _ = batch_encode.encode_batch(values, offsets)
    for blob, a in zip(blobs, arrays):
        np.testing.assert_array_equal(kernels.decode(blob), a)


def test_sizes_not_worse_than_per_row_selector():
    """Batch path may skip the dict codec on probed-out rows, but must never
    exceed plain, and on the edge set must be within 5% of per-row total."""
    arrays = list(EDGE_ARRAYS.values())
    values, offsets = make_batch(arrays)
    blobs, _, s, _ = batch_encode.encode_batch(values, offsets)
    total_batch = sum(len(b) for b in blobs)
    total_row = sum(len(selector.encode_auto(a)[0]) for a in arrays)
    for b, a in zip(blobs, arrays):
        assert len(b) <= batch_encode.HEADER + 4 * a.size
    assert total_batch <= total_row * 1.05


def test_random_batches_roundtrip():
    for trial in range(5):
        arrays = []
        for _ in range(200):
            kind = rng.integers(0, 6)
            n = int(rng.integers(0, 300))
            if kind == 0:
                a = np.full(n, int(rng.integers(-50, 50)), dtype=np.int32)
            elif kind == 1:
                a = rng.integers(0, 16, n).astype(np.int32)
            elif kind == 2:
                a = np.cumsum(rng.integers(0, 9, n)).astype(np.int32)
            elif kind == 3:
                a = rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int64).astype(np.int32)
            elif kind == 4:
                a = (rng.integers(0, 4, n) * 1_000_000_007 % (2**31)).astype(np.int32)
            else:
                a = np.repeat(rng.integers(0, 5, max(n // 10, 1)), 10)[:n].astype(np.int32)
            arrays.append(a)
        values, offsets = make_batch(arrays)
        blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
        for blob, arr, cid in zip(blobs, arrays, cids):
            got = kernels.decode(blob)
            np.testing.assert_array_equal(got, arr)
            assert blob[0] == cid


def test_wide_range_low_card_takes_dict_fallback():
    """16 distinct values spread over the int32 range: probe must route to
    the per-row dict path (bitpack alone would need 31+ bits)."""
    vals = (np.arange(16, dtype=np.int64) * 134217727 - 2**30).astype(np.int32)
    arr = vals[rng.integers(0, 16, 2000)]
    values, offsets = make_batch([arr])
    blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
    assert kernels.blob_codec(blobs[0]) == "dict"
    np.testing.assert_array_equal(kernels.decode(blobs[0]), arr)
    assert len(blobs[0]) < 2000  # ~4 bits/token + dict, far below 8000


def _rle_marginal_row() -> np.ndarray:
    """A row the size formulas pick RLE for, that the FSST trial then flips:
    ~43 runs of 64 wide-range tokens (bw=31) drawn from 20 distinct values
    whose low byte-pair is constant, so the byte stream is FSST-friendly."""
    vals20 = [(i * 0x06000000) | 0x1234 for i in range(20)]
    row = []
    i = 0
    while len(row) < 64:
        row.extend([vals20[i % 20]] * (1 if i % 3 else 2))
        i += 1
    return np.array(row[:64], dtype=np.int64).astype(np.int32)


def test_rle_to_fsst_flip_does_not_corrupt_neighbor():
    """Regression: rows chosen as RLE then reassigned to FSST by the trial
    pass must be dropped from the RLE assembly state; previously the full
    RLE payload overflowed the shrunken slot into the next row's blob."""
    row = _rle_marginal_row()
    neighbor = np.arange(100, dtype=np.int32) * 7 + 3
    values, offsets = make_batch([row, neighbor])

    s = batch_encode.batch_stats(values, offsets)
    ids0, _ = batch_encode.choose_codecs(s)
    assert kernels.CODEC_NAMES[int(ids0[0])] == "rle"  # pre-trial choice

    blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
    assert kernels.blob_codec(blobs[0]) == "fsst"  # the trial flipped it
    np.testing.assert_array_equal(kernels.decode(blobs[0]), row)
    np.testing.assert_array_equal(kernels.decode(blobs[1]), neighbor)


def test_rle_flip_interleaved_with_surviving_rle_rows():
    """Mixed batch: surviving RLE rows before/after a flipped row must still
    assemble from the filtered run state."""
    rle_keep = np.repeat(np.arange(5, dtype=np.int32) * 100000, 40)
    flip = _rle_marginal_row()
    arrays = [rle_keep, flip, rle_keep[::-1].copy(), flip.copy()]
    values, offsets = make_batch(arrays)
    blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
    for blob, arr in zip(blobs, arrays):
        np.testing.assert_array_equal(kernels.decode(blob), arr)


def test_batch_blobs_are_the_reference_blobs():
    """Every batch blob is byte-identical to the per-row kernel's blob for
    the codec the batch chose. The batch mixes one bit width (4) shared by
    bitpack values, fordelta deltas, both RLE blocks and dict codes;
    width-0 blocks; rows of 33-bit and single fordelta blocks, which the
    size formulas store plain (no fordelta block of such a row beats
    plain); and a row the FSST trial takes from RLE between surviving
    RLE rows."""
    r = np.random.default_rng(5)
    runs4 = np.repeat(500 + np.arange(40) * 7 % 16,
                      np.where(np.arange(40) % 2 == 0, 1, 12))
    dict_vals = np.arange(16, dtype=np.int64) * 134217727 - 2**30
    rle_keep = np.repeat(np.arange(5) * 100000, 40)
    rows = {
        "bitpack": r.integers(100, 116, 300),             # width 4
        "fordelta": np.cumsum(r.integers(1000, 1016, 300)),  # deltas 4
        "rle": runs4,                                     # values 4, lengths 4
        "dict": dict_vals[np.arange(256) % 16],           # codes 4
        "const": np.full(50, 7),                          # bitpack width 0
        "arith": np.arange(200) * 3 + 11,                 # fordelta width 0
        "rle_w0": np.repeat([5, 900, 5, 900, 77], 20),    # run lengths 0
        "delta33": [-(2**31), 2**31 - 1, -(2**31), 2**31 - 1, 0],
        "single": [42],
        "empty": [],
        "rle_keep": rle_keep,
        "flip": _rle_marginal_row(),
        "rle_keep_rev": rle_keep[::-1],
    }
    arrays = [np.asarray(a, dtype=np.int64).astype(np.int32)
              for a in rows.values()]
    values, offsets = make_batch(arrays)
    blobs, cids, _, _ = batch_encode.encode_batch(values, offsets)
    chosen = {k: kernels.CODEC_NAMES[int(c)] for k, c in zip(rows, cids)}
    assert chosen == {
        "bitpack": "bitpack", "fordelta": "fordelta", "rle": "rle",
        "dict": "dict", "const": "bitpack", "arith": "fordelta",
        "rle_w0": "rle", "delta33": "plain", "single": "plain",
        "empty": "plain", "rle_keep": "rle", "flip": "fsst",
        "rle_keep_rev": "rle"}
    # the four width-4 rows really share one width: bitpack +17,
    # fordelta +25, both RLE blocks +17 / +30+vbytes, dict codes
    assert blobs[0][17] == blobs[1][25] == blobs[2][17] == 4
    assert blobs[2][17 + 13 + (40 * 4 + 7) // 8] == 4
    assert blobs[3][9 + 4 * 16 + 12] == 4
    for k, arr, blob in zip(rows, arrays, blobs):
        ref = (kernels.encode_fsst(arr) if chosen[k] == "fsst"
               else kernels.encode(arr, chosen[k]))
        assert blob == ref, k


def test_throughput_improvement():
    """Batch path should be materially faster than the per-row loop."""
    import time
    arrays = []
    for i in range(3000):
        n = int(rng.integers(64, 512))
        arrays.append(np.cumsum(rng.integers(0, 37, n)).astype(np.int32))
    values, offsets = make_batch(arrays)
    batch_encode.encode_batch(values, offsets)  # warm (one-time numpy setup)
    selector.encode_auto(arrays[0])
    t_batch = t_row = 1e9
    for _ in range(3):  # best-of-3: the CI box is noisy
        t0 = time.time()
        batch_encode.encode_batch(values, offsets)
        t_batch = min(t_batch, time.time() - t0)
        t0 = time.time()
        for a in arrays:
            selector.encode_auto(a)
        t_row = min(t_row, time.time() - t0)
    assert t_batch < t_row * 1.2, (t_batch, t_row)
