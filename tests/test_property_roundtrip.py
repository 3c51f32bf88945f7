"""Property-based round-trip guarantees (hypothesis).

The reference's discipline is example-based (vec_pq_reader.rs:821-880);
property testing generalizes it: for ANY int32 array, every codec and the
auto-selected path must decode to the exact input, and the chosen blob
must never exceed the plain bound.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_playground_rs_spark.functions import batch_encode, kernels, selector

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)

token_arrays = st.lists(I32, min_size=0, max_size=400).map(
    lambda xs: np.array(xs, dtype=np.int32))

# shapes the uniform strategy rarely produces: runs, small ranges, ramps
runs = st.lists(st.tuples(I32, st.integers(1, 20)), min_size=0, max_size=30) \
    .map(lambda rs: np.repeat(np.array([v for v, _ in rs], dtype=np.int32),
                              [n for _, n in rs]))
ramps = st.tuples(I32, st.integers(-1000, 1000), st.integers(0, 300)).map(
    lambda t: (np.int64(t[0]) + np.int64(t[1]) * np.arange(t[2], dtype=np.int64))
    .clip(-(2**31), 2**31 - 1).astype(np.int32))

any_tokens = st.one_of(token_arrays, runs, ramps)


@settings(max_examples=120, deadline=None)
@given(any_tokens)
def test_every_codec_roundtrips(arr):
    for codec in kernels.TOKEN_CODECS:
        blob = kernels.encode(arr, codec)
        np.testing.assert_array_equal(kernels.decode(blob), arr, err_msg=codec)


@settings(max_examples=120, deadline=None)
@given(any_tokens)
def test_auto_select_roundtrips_and_bounds(arr):
    blob, codec, stats = selector.encode_auto(arr)
    np.testing.assert_array_equal(kernels.decode(blob), arr)
    assert len(blob) <= selector.HEADER + 4 * arr.size + 4


@settings(max_examples=60, deadline=None)
@given(st.lists(any_tokens, min_size=1, max_size=12))
def test_batch_encode_roundtrips(arrays):
    values = np.concatenate(arrays) if arrays else np.empty(0, np.int32)
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum([a.size for a in arrays], out=offsets[1:])
    blobs, cids, _, _ = batch_encode.encode_batch(
        values.astype(np.int32), offsets)
    for blob, arr in zip(blobs, arrays):
        np.testing.assert_array_equal(kernels.decode(blob), arr)


f64s = st.floats(allow_nan=True, allow_infinity=True, width=64)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(f64s, st.booleans()), min_size=0, max_size=200))
def test_bss_roundtrips_any_doubles(pairs):
    vals = np.array([v for v, _ in pairs], dtype="<f8")
    mask = np.array([m for _, m in pairs], dtype=bool)
    got_vals, got_mask = kernels.decode_bss(kernels.encode_bss(vals, mask))
    np.testing.assert_array_equal(got_mask, mask)
    exp = np.where(mask, vals, 0.0)
    np.testing.assert_array_equal(got_vals.view(np.uint64),
                                  exp.astype("<f8").view(np.uint64))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(any_tokens, st.sampled_from(kernels.TOKEN_CODECS)),
                min_size=1, max_size=16))
def test_batch_decode_binary_array_roundtrips(items):
    """Whole-batch decoder over arbitrary arrays x every codec: must
    equal the inputs exactly."""
    import pyarrow as pa

    from parquet_playground_rs_spark.functions import batch_decode

    blobs = [kernels.encode(a, c) for a, c in items]
    vals, offs = batch_decode.decode_binary_array(
        pa.array(blobs, type=pa.binary()))
    for i, (a, c) in enumerate(items):
        np.testing.assert_array_equal(vals[offs[i]:offs[i + 1]], a,
                                      err_msg=f"row {i} codec {c}")
