"""Round-trip tests for the pure-numpy codec kernels.

Ports the reference's test discipline (edge-case fixture rows + exact
equality swept over chunkings, /root/reference/src/vec_pq_reader.rs:563-683
and :821-831) to the token-array codecs.
"""

import numpy as np
import pytest

from parquet_playground_rs_spark.functions import kernels, selector

I32_MIN, I32_MAX = -(2**31), 2**31 - 1

rng = np.random.default_rng(42)

EDGE_ARRAYS = {
    "empty": np.array([], dtype=np.int32),
    "singleton": np.array([7], dtype=np.int32),
    "constant": np.full(257, 7, dtype=np.int32),
    "two_runs": np.array([1] * 100 + [2] * 57, dtype=np.int32),
    "few_long_runs": np.repeat(np.array([5, -3, 5, 9, 0], dtype=np.int32), 211),
    "low_card_shuffled": rng.choice(np.arange(16, dtype=np.int32), size=999),
    "narrow_range": (1000 + rng.integers(0, 256, 500)).astype(np.int32),
    "monotone_ramp": np.cumsum(rng.integers(0, 5, 1000)).astype(np.int32),
    "monotone_affine": (np.arange(1000) * 37 + 11).astype(np.int32),
    "decreasing": np.arange(500, 0, -1, dtype=np.int32),
    "motif": np.tile(np.array([10, 20, 30, 40, 50, 60, 70, 80], dtype=np.int32), 128),
    "uniform_random": rng.integers(I32_MIN, I32_MAX, 1000, dtype=np.int64).astype(np.int32),
    "extremes": np.array([I32_MIN, I32_MAX, 0, -1, 1, I32_MIN, I32_MAX], dtype=np.int32),
    "negatives": rng.integers(-1000, -1, 300, dtype=np.int64).astype(np.int32),
    "alternating": np.tile(np.array([0, 1], dtype=np.int32), 500),
    "wide_delta": np.array([I32_MIN, I32_MAX, I32_MIN, I32_MAX], dtype=np.int32),
    "odd_len_3": np.array([1, 2, 3], dtype=np.int32),
}

ALL_CODECS = list(kernels.TOKEN_CODECS)


@pytest.mark.parametrize("codec", ALL_CODECS)
@pytest.mark.parametrize("name", list(EDGE_ARRAYS))
def test_roundtrip_every_codec_every_edge(codec, name):
    arr = EDGE_ARRAYS[name]
    blob = kernels.encode(arr, codec)
    out = kernels.decode(blob)
    assert out.dtype == np.dtype("<i4")
    np.testing.assert_array_equal(out, arr)
    assert kernels.blob_codec(blob) == codec


@pytest.mark.parametrize("name", list(EDGE_ARRAYS))
def test_roundtrip_auto(name):
    arr = EDGE_ARRAYS[name]
    blob, codec, stats = selector.encode_auto(arr)
    np.testing.assert_array_equal(kernels.decode(blob), arr)
    assert stats.n == arr.size
    # size guard: never worse than plain
    assert len(blob) <= selector.HEADER + 4 * arr.size + 1


@pytest.mark.parametrize("n", list(range(0, 18)) + [31, 32, 33, 63, 64, 65, 255, 256, 1024])
def test_roundtrip_every_length(n):
    """Chunk-boundary sweep: every small length through every codec."""
    arr = (np.arange(n, dtype=np.int64) * 7919 % 100003 - 50000).astype(np.int32)
    for codec in ALL_CODECS:
        np.testing.assert_array_equal(kernels.decode(kernels.encode(arr, codec)), arr)


@pytest.mark.parametrize("width", list(range(0, 34)))
def test_bitpack_every_width(width):
    if width == 0:
        arr = np.full(100, 12345, dtype=np.int32)
    else:
        span = min(2**width - 1, 2**32 - 1)
        vals = rng.integers(0, span + 1, 200, dtype=np.uint64).astype(np.int64)
        arr = (vals + I32_MIN).clip(I32_MIN, I32_MAX).astype(np.int32)
    np.testing.assert_array_equal(kernels.decode(kernels.encode_bitpack(arr)), arr)


def test_selected_codec_matches_data_shape():
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["constant"])
    assert c == "bitpack"  # width-0 bitpack beats rle on a constant array
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["few_long_runs"])
    assert c == "rle"
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["low_card_shuffled"])
    assert c in ("dict", "bitpack")  # 16 uniques in [0,16) — both 4-bit
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["monotone_affine"])
    assert c == "fordelta"
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["narrow_range"])
    assert c in ("bitpack", "dict")
    _, c, _ = selector.encode_auto(EDGE_ARRAYS["uniform_random"])
    assert c == "plain"


def test_predicted_sizes_exact_for_closed_form_codecs():
    """Predicted size == len(actual blob) for the stats-derived codecs."""
    for name, arr in EDGE_ARRAYS.items():
        stats = selector.compute_stats(arr)
        sizes = selector.predicted_sizes(stats)
        for codec in ("plain", "bitpack", "fordelta", "dict"):
            assert sizes[codec] == len(kernels.encode(arr, codec)), (name, codec)
        # rle prediction is an upper bound (length width bounded by bits(n))
        assert sizes["rle"] >= len(kernels.encode(arr, "rle")), name


def test_compression_wins_on_compressible_shapes():
    for name in ("constant", "few_long_runs", "monotone_affine", "low_card_shuffled",
                 "narrow_range", "motif", "alternating"):
        arr = EDGE_ARRAYS[name]
        blob, codec, _ = selector.encode_auto(arr)
        assert len(blob) < 4 * arr.size * 0.55, (name, codec, len(blob), 4 * arr.size)


def test_fsst_multiround_beats_single_round():
    """Recursive re-pair: on a repetitive motif extra rounds (4/8-byte
    effective symbols) must shrink the blob below the 1-round form."""
    arr = EDGE_ARRAYS["motif"]
    one = kernels.encode_fsst(arr, max_rounds=1)
    multi = kernels.encode_fsst(arr, max_rounds=3)
    np.testing.assert_array_equal(kernels.decode(one), arr)
    np.testing.assert_array_equal(kernels.decode(multi), arr)
    assert len(multi) < len(one) < 4 * arr.size


def test_fsst_round_count_sweep_roundtrips():
    rng_l = np.random.default_rng(5)
    zipf = np.minimum(rng_l.zipf(1.3, 3000), 120_000).astype(np.int32)
    for r in (1, 2, 3, 4):
        blob = kernels.encode_fsst(zipf, max_rounds=r)
        np.testing.assert_array_equal(kernels.decode(blob), zipf)


def test_fsst_wins_on_zipfian_tokens():
    """The north-star payload shape (BPE-like Zipf token stream): fsst must
    beat every closed-form lightweight codec (scripts/fsst_study.py: 94%
    of such blocks, ~-12% bytes)."""
    from parquet_playground_rs_spark.functions import selector

    rng_l = np.random.default_rng(11)
    arr = np.minimum(rng_l.zipf(1.3, 2048), 120_000).astype(np.int32)
    _, _, sizes = selector.choose_codec(arr, enable_fsst=False)
    blob = kernels.encode_fsst(arr)
    np.testing.assert_array_equal(kernels.decode(blob), arr)
    assert len(blob) < min(sizes.values())


def test_fsst_compresses_repetitive_bytes():
    arr = np.tile(np.array([1000000, 2000000], dtype=np.int32), 2048)
    blob = kernels.encode_fsst(arr)
    assert len(blob) < 4 * arr.size * 0.65


def test_decode_rejects_unknown_codec():
    import struct
    with pytest.raises((ValueError, KeyError)):
        kernels.decode(struct.pack("<BI", 99, 4) + b"\x00" * 16)


def _fsst_oracle_rows() -> dict[str, np.ndarray]:
    """Zipfian rows over hashed ids (the shape that picks FSST), random
    rows at lengths around the estimate's 4096-pair sample, and the edge
    arrays."""
    rng_l = np.random.default_rng(23)
    vocab = (rng_l.choice(2**32, 50_000, replace=False) - 2**31).astype(np.int32)
    rows = dict(EDGE_ARRAYS)
    for n in (64, 2047, 2048, 2049, 5000, 16384):
        ranks = np.minimum(rng_l.zipf(1.1, n), vocab.size) - 1
        rows[f"zipf_{n}"] = vocab[ranks]
        rows[f"random_{n}"] = rng_l.integers(
            I32_MIN, I32_MAX, n, dtype=np.int64).astype(np.int32)
    rows["small_ids"] = np.minimum(rng_l.zipf(1.3, 3000), 120_000).astype(np.int32)
    return rows


def test_fsst_radix_counts_match_np_unique(monkeypatch):
    """Symbol counting by a u16 stable sort gives the np.unique
    formulation's blobs and estimates byte for byte."""
    rows = _fsst_oracle_rows()
    new = {k: (kernels.encode_fsst(a), selector.estimate_fsst(a))
           for k, a in rows.items()}
    monkeypatch.setattr(kernels, "_u16_counts",
                        lambda stream: np.unique(stream, return_counts=True))
    for k, a in rows.items():
        blob, estimate = new[k]
        assert blob == kernels.encode_fsst(a), k
        assert estimate == selector.estimate_fsst(a), k
        np.testing.assert_array_equal(kernels.decode(blob), a)
