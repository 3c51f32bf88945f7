"""Whole-batch vectorized decode: the inverse of batch_encode.

Input: a pyarrow BinaryArray of self-describing blobs (kernels.py format).
Output: (values int32 concatenated, offsets int64) for the whole batch.

Decoding runs in three phases, the mirror of batch_encode's one writer:

1. every codec's headers, counts and lengths are checked, with vectorized
   byte composition (no struct.unpack per row). Every blob's length is
   checked against the closed form of its header before its payload is
   read, so a truncated, extended or miscounted blob raises ValueError
   instead of reading into its neighbour;
2. every packed block of the batch (bitpack values, fordelta deltas, RLE
   run values and run lengths, dict codes) goes through ONE call of the
   reader, ``_unpack_blocks``: blocks of one bit width unpack together,
   whatever their codec, in one word-wise ``_unpack_group``, with blocks
   padded to byte-aligned regions exactly mirroring batch_encode._group_pack;
3. each codec finishes from its own slice of those values: bitpack
   places them, fordelta takes a segmented cumsum, RLE checks its run
   sums and repeats, dict checks its code range and gathers. A codec's
   tokens land in its rows through one boolean row mask; plain payloads
   and dictionaries are copied with batch_encode._copy_into.

FSST rows go one by one through the reference kernel (kernels.decode): an
FSST blob holds up to a whole chunk of tokens, so the per-call overhead is
small next to its work.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import kernels
from .arrow_np import binary_parts
from .batch_encode import _copy_into
from .kernels import CODEC_IDS, _packed_size


def _u32(d: np.ndarray, pos: np.ndarray) -> np.ndarray:
    return (d[pos].astype(np.int64)
            | d[pos + 1].astype(np.int64) << 8
            | d[pos + 2].astype(np.int64) << 16
            | d[pos + 3].astype(np.int64) << 24)


def _i64(d: np.ndarray, pos: np.ndarray) -> np.ndarray:
    out = np.zeros(pos.shape, dtype=np.uint64)
    for k in range(8):
        out |= d[pos + k].astype(np.uint64) << np.uint64(8 * k)
    return out.astype(np.int64)


def _block_header(d: np.ndarray, pos: np.ndarray):
    """(count, ref, width) of the packed blocks whose headers start at
    d[pos] (the kernels._pack_block layout)."""
    return _u32(d, pos), _i64(d, pos + 4), d[pos + 12].astype(np.int64)


def header_token_counts(blobs: pa.Array) -> np.ndarray:
    """Each blob's token count as its header states it (u32 at byte 1),
    read without decoding. A blob too short to hold the header counts 0
    tokens: `decode_binary_array` rejects it."""
    d, boffs = binary_parts(blobs)
    starts = boffs[:-1]
    whole = np.diff(boffs) >= 5
    counts = np.zeros(starts.size, dtype=np.int64)
    counts[whole] = _u32(d, starts[whole] + 1)
    return counts


def _unpack_group(payload_bytes: np.ndarray, counts: np.ndarray,
                  width: int, row_payload_starts: np.ndarray) -> np.ndarray:
    """Unpack one width-group (width > 0) of packed blocks into their
    values before the frame reference is added (uint32, or int64 holding
    the u64 bits above width 32), each block padded to a multiple of 8
    values. payload_bytes: the full data array; counts[i] values per row;
    row_payload_starts[i] byte offset of row i's payload."""
    # copy the real payload bytes into a zeroed arena padded per row to
    # whole 8-value groups (the region layout of batch_encode._group_pack)
    pad_bytes = (counts + 7) // 8 * width
    total_pad = int(pad_bytes.sum())
    arena = np.zeros(total_pad, dtype=np.uint8)
    _copy_into(arena, np.cumsum(pad_bytes) - pad_bytes, payload_bytes,
               row_payload_starts, (counts * width + 7) // 8)
    # word-wise unpack (inverse of batch_encode._group_pack): each group of
    # `width` arena bytes holds 8 values; value i = bits [i*w, (i+1)*w) of
    # the group's little-endian bitstream, extracted via a window load +
    # shift + mask — no (N, width) bit matrix. The window and the value
    # matrix stay 4-byte when the shifted value fits 32 bits (mirrors the
    # encode side; memory bandwidth is the scaling ceiling).
    k = total_pad // width
    grp = arena.reshape(k, width)
    narrow = width <= 32
    vals = np.empty((k, 8), dtype=np.uint32 if narrow else np.int64)
    window32 = np.zeros((k, 4), dtype=np.uint8) if narrow else None
    window64 = None
    mask64 = np.uint64((1 << width) - 1)
    for i in range(8):
        byte0, shift = divmod(i * width, 8)
        nb = (width + shift + 7) // 8  # window covers bits [shift, shift+w)
        if narrow and width + shift <= 32:
            window32[:, :nb] = grp[:, byte0:byte0 + nb]
            if nb < 4:
                window32[:, nb:] = 0
            vals[:, i] = (window32.view("<u4").ravel() >> np.uint32(shift)) \
                & np.uint32((1 << width) - 1)
        else:
            if window64 is None:
                window64 = np.zeros((k, 8), dtype=np.uint8)
            window64[:, :nb] = grp[:, byte0:byte0 + nb]
            if nb < 8:
                window64[:, nb:] = 0
            v = (window64.view("<u8").ravel() >> np.uint64(shift)) & mask64
            vals[:, i] = v.astype(vals.dtype, copy=False)
    return vals.reshape(-1)


def _unpack_blocks(d: np.ndarray, pos: np.ndarray, counts: np.ndarray,
                   refs: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Unpack the packed blocks whose headers start at d[pos] (payload at
    +13), given their header fields, into their int64 values back to back
    in block order. One _unpack_group per non-zero bit width, whatever
    codec the blocks belong to (mirrors batch_encode._write_blocks); a
    width-0 block's values are all its reference."""
    out = np.empty(int(counts.sum()), dtype=np.int64)
    for w in np.unique(widths):
        m = widths == w
        c = counts[m]
        vals = np.repeat(refs[m], c)
        if w:
            # each block's values, then its (-c % 8) padding values
            keep = np.repeat(np.tile([True, False], c.size),
                             np.column_stack((c, -c % 8)).ravel())
            vals += _unpack_group(d, c, int(w), pos[m] + 13)[keep]
        out[np.repeat(m, counts)] = vals
    return out


_TOKEN_CODEC_IDS = np.array(
    [CODEC_IDS[c] for c in kernels.TOKEN_CODECS], dtype=np.int64)


def _require(ok: np.ndarray, rows: np.ndarray, what: str) -> None:
    """Raise ValueError naming the first of `rows` where `ok` is False."""
    if not ok.all():
        raise ValueError(f"corrupt blob at row {int(rows[np.argmin(ok)])}: "
                         f"{what}")


def decode_binary_array(blocks: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Decode a batch of blobs -> (int32 values concat, int64 offsets).

    Raises ValueError instead of returning tokens when a row is null,
    shorter than the 5-byte common header or of an unknown codec, or when
    a blob's length, packed-block counts, run lengths or dictionary codes
    disagree with its header. Each subheader field is read only after
    the blob is known to be long enough to hold it."""
    if blocks.null_count:
        raise ValueError("null block rows are not decodable")
    d, boffs = binary_parts(blocks)
    n = boffs.size - 1
    if n == 0:
        return np.empty(0, dtype=np.int32), np.zeros(1, dtype=np.int64)
    starts = boffs[:-1]
    blen = np.diff(boffs)
    if int(blen.min()) < 5:
        raise ValueError("truncated blob: shorter than the 5-byte header")
    codec = d[starts].astype(np.int64)
    unknown = ~np.isin(codec, _TOKEN_CODEC_IDS)
    if unknown.any():
        raise ValueError(
            f"unknown codec id(s) {sorted(set(codec[unknown].tolist()))}")
    n_tok = _u32(d, starts + 1)
    empty = np.flatnonzero(n_tok == 0)
    _require(blen[empty] == 5, empty, "an empty blob carries a payload")
    out_offsets = np.concatenate(([0], np.cumsum(n_tok)))
    out = np.empty(int(out_offsets[-1]), dtype=np.int32)

    def codec_rows(name: str):
        rows = np.flatnonzero((codec == CODEC_IDS[name]) & (n_tok > 0))
        return rows, starts[rows], blen[rows], n_tok[rows]

    def place(name: str, vals: np.ndarray) -> None:
        """A codec's tokens, back to back in row order, into its rows."""
        out[np.repeat(codec == CODEC_IDS[name], n_tok)] = vals

    # ---- 1. every header, count and length check, before any payload is
    # read; each packed block joins `blk` as (header pos, count, ref, width)
    # plain: n raw i32 values at +5
    p_rows, p_s, ln, p_n = codec_rows("plain")
    _require(ln == 5 + 4 * p_n, p_rows,
             "plain length disagrees with its header")
    # bitpack: one packed block at +5
    b_rows, s, ln, b_n = codec_rows("bitpack")
    _require(ln >= 18, b_rows, "bitpack subheader truncated")
    cnt, refs, w = _block_header(d, s + 5)
    _require((cnt == b_n) & (ln == 5 + _packed_size(b_n, w)), b_rows,
             "bitpack length or count disagrees with its header")
    blk = [(s + 5, b_n, refs, w)]
    # fordelta: [q first] at +5, packed deltas at +13
    f_rows, s, ln, f_n = codec_rows("fordelta")
    _require(ln >= 26, f_rows, "fordelta subheader truncated")
    cnt, refs, w = _block_header(d, s + 13)
    _require((cnt == f_n - 1) & (ln == 13 + _packed_size(f_n - 1, w)), f_rows,
             "fordelta length or count disagrees with its header")
    f_first = _i64(d, s + 5)
    blk.append((s + 13, f_n - 1, refs, w))
    # rle: two packed blocks (run values, run lengths) at +5
    r_rows, s, ln, r_n = codec_rows("rle")
    _require(ln >= 18, r_rows, "rle subheader truncated")
    r_cnt, refs, w = _block_header(d, s + 5)
    q = s + 5 + _packed_size(r_cnt, w)  # second packed block
    _require(ln >= q - s + 13, r_rows, "rle run-length block truncated")
    l_cnt, lrefs, lw = _block_header(d, q)
    _require((l_cnt == r_cnt) & (ln == q - s + _packed_size(r_cnt, lw)),
             r_rows, "rle length or run count disagrees with its header")
    blk += [(s + 5, r_cnt, refs, w), (q, r_cnt, lrefs, lw)]
    # dict: [I dict_size] at +5, dict vals at +9, packed codes
    d_rows, d_s, ln, d_n = codec_rows("dict")
    _require(ln >= 9, d_rows, "dict subheader truncated")
    dsz = _u32(d, d_s + 5)
    _require(ln >= 22 + 4 * dsz, d_rows, "dict code block truncated")
    cnt, refs, w = _block_header(d, d_s + 9 + 4 * dsz)
    _require((cnt == d_n) & (refs >= 0)
             & (ln == 9 + 4 * dsz + _packed_size(d_n, w)), d_rows,
             "dict length or code count disagrees with its header")
    blk.append((d_s + 9 + 4 * dsz, d_n, refs, w))

    # ---- 2. every packed block of the batch in one read
    bits, deltas, run_vals, run_lens, codes = np.split(
        _unpack_blocks(d, *(np.concatenate(f) for f in zip(*blk))),
        np.cumsum([int(b[1].sum()) for b in blk])[:-1])

    # ---- 3. finish each codec from its own values
    _copy_into(out.view(np.uint8), 4 * out_offsets[p_rows], d, p_s + 5,
               4 * p_n)
    place("bitpack", bits)
    # fordelta: segmented cumsum over [first, deltas...] per row
    cum = np.cumsum(np.insert(deltas, np.cumsum(f_n - 1) - (f_n - 1), f_first))
    corr = cum[np.cumsum(f_n) - f_n] - f_first
    place("fordelta", cum - np.repeat(corr, f_n))
    # rle: the run-sum check, then the repeat
    run_off = np.concatenate(([0], np.cumsum(r_cnt)))
    len_sum = np.concatenate(([0], np.cumsum(run_lens)))[run_off]
    _require(np.diff(len_sum) == r_n, r_rows,
             "rle run lengths do not sum to the token count")
    place("rle", np.repeat(run_vals, run_lens))
    # dict: the code-range check, then a gather from the dictionaries,
    # copied into one arena in row order
    d_first = np.cumsum(d_n) - d_n  # a code wraps negative at width 64
    _require((np.minimum.reduceat(codes, d_first) >= 0)
             & (np.maximum.reduceat(codes, d_first) < dsz), d_rows,
             "dict code outside its dictionary")
    darena_off = np.concatenate(([0], np.cumsum(dsz)))
    darena = np.empty(4 * int(darena_off[-1]), dtype=np.uint8)
    _copy_into(darena, 4 * darena_off[:-1], d, d_s + 9, 4 * dsz)
    place("dict", darena.view("<i4")[codes + np.repeat(darena_off[:-1], d_n)])

    # ---- fsst: the reference kernel, one blob at a time; it raises when
    # a blob's length or token count disagrees with its header
    for i in codec_rows("fsst")[0]:
        out[out_offsets[i]: out_offsets[i + 1]] = \
            kernels.decode(d[boffs[i]: boffs[i + 1]].tobytes())

    return out, out_offsets
