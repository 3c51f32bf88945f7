"""The engine's one Arrow <-> numpy boundary, crossed through buffers.

pyarrow 16 imports pandas (about 33 MB of RSS and 0.4 s of CPU) the
first time a process calls ``pa.array``, ``Array.to_numpy``,
``np.asarray`` of an Arrow array, ``pa.scalar``, ``DataType.
to_pandas_dtype`` or a compute function given a Python scalar.
``Array.buffers``, ``Array.from_buffers``, ``pa.py_buffer``,
``ListArray.flatten``, ``slice``, ``cast`` and ``pc.take`` do not. The
encode and decode maps cross between Arrow and numpy only through this
module, so a Python worker that runs them never loads pandas (one is
kept per executor core).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _np_dtype(typ: pa.DataType) -> np.dtype:
    if pa.types.is_signed_integer(typ):
        kind = "i"
    elif pa.types.is_unsigned_integer(typ):
        kind = "u"
    elif pa.types.is_floating(typ):
        kind = "f"
    else:
        raise TypeError(f"expected a numeric Arrow array, got {typ}")
    return np.dtype(f"<{kind}{typ.bit_width // 8}")


def numeric_values(arr: pa.Array) -> np.ndarray:
    """Zero-copy numpy view of a numeric array's values. Null slots
    read as whatever their buffer holds: callers reject nulls first."""
    dtype = _np_dtype(arr.type)
    if not len(arr):
        return np.empty(0, dtype)
    return np.frombuffer(arr.buffers()[1], dtype=dtype, count=len(arr),
                         offset=arr.offset * dtype.itemsize)


def list_offsets(arr: pa.Array) -> np.ndarray:
    """A list array's row offsets as int64, rebased to start at 0, so
    they index ``arr.flatten()`` also when `arr` is a slice."""
    offsets = numeric_values(arr.offsets).astype(np.int64)
    offsets -= offsets[0]
    return offsets


def binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes as uint8 np array, per-blob start offsets int64[n+1])."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    buffers = arr.buffers()
    offs = np.frombuffer(buffers[1], dtype=np.int32,
                         count=arr.offset + len(arr) + 1)[arr.offset:]
    data = np.frombuffer(buffers[2], dtype=np.uint8)
    return data, offs.astype(np.int64)


def from_numpy(values: np.ndarray, typ: pa.DataType,
               mask: np.ndarray | None = None) -> pa.Array:
    """Numeric Arrow array of `typ` over `values` (cast without a range
    check: callers pass values that fit), null where `mask` is True."""
    values = np.ascontiguousarray(values, dtype=_np_dtype(typ))
    validity = None
    if mask is not None and mask.any():
        validity = pa.py_buffer(np.packbits(~mask, bitorder="little"))
    return pa.Array.from_buffers(typ, values.size,
                                 [validity, pa.py_buffer(values)])


def string_array(strings: list[str]) -> pa.Array:
    """Arrow string array of `strings`, none of them null."""
    encoded = [s.encode() for s in strings]
    offsets = np.concatenate(
        ([0], np.cumsum([len(b) for b in encoded]))).astype(np.int32)
    return pa.Array.from_buffers(
        pa.string(), len(encoded),
        [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(encoded))])
