"""Whole-batch vectorized decode: the inverse of batch_encode.

Input: a pyarrow BinaryArray of self-describing blobs (kernels.py format).
Output: (values int32 concatenated, offsets int64) for the whole batch.

Headers are parsed with vectorized byte composition (no struct.unpack per
row). Each codec's packed blocks (two per RLE row) go through one reader,
``_unpack_blocks``, which groups them by bit width: each width pays ONE
word-wise unpack, with blocks padded to byte-aligned regions exactly
mirroring batch_encode._group_pack. FSST rows go one by one through the
reference kernel (kernels.decode): an FSST blob holds up to a whole chunk
of tokens, so the per-call overhead is small next to its work.

Every blob's length is checked against the closed form of its header
before its payload is read, so a truncated, extended or miscounted blob
raises ValueError instead of reading into its neighbour.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import kernels
from .arrow_np import binary_parts
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


def _scatter(out: np.ndarray, firsts: np.ndarray, counts: np.ndarray,
             vals: np.ndarray) -> None:
    """Place the back-to-back segments of `vals` at out[firsts[i] :
    firsts[i] + counts[i]]."""
    pref = np.cumsum(counts) - counts
    out[np.arange(int(counts.sum())) + np.repeat(firsts - pref, counts)] = \
        vals.astype(out.dtype, copy=False)


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
                  refs: np.ndarray, width: int,
                  row_payload_starts: np.ndarray) -> np.ndarray:
    """Decode one width-group of packed blocks into int64 values (concat in
    group row order). payload_bytes: the full data array; counts[i] values
    per row; refs[i] frame reference; row_payload_starts[i] byte offset of
    row i's payload."""
    if width == 0:
        return np.repeat(refs, counts)
    pad_counts = (counts + 7) // 8 * 8
    pad_bytes = pad_counts * width // 8
    real_bytes = (counts * width + 7) // 8
    total_pad = int(pad_bytes.sum())
    arena = np.zeros(total_pad, dtype=np.uint8)
    # gather real payload bytes into the padded arena; the indices address
    # BOTH the payload (< payload_bytes.size) and the padded arena
    # (< total_pad, up to ~8x larger for many short rows at wide widths),
    # so the dtype must cover the max of the two (mirrors _group_pack)
    total_real = int(real_bytes.sum())
    it = np.int32 if max(payload_bytes.size, total_pad) < 2**31 else np.int64
    real_starts = np.concatenate(([0], np.cumsum(real_bytes)))[:-1]
    rel_pos = np.arange(total_real, dtype=it)
    byte_gaps = np.concatenate(([0], np.cumsum(pad_bytes - real_bytes)))[:-1]
    arena[rel_pos + np.repeat(byte_gaps.astype(it), real_bytes)] = \
        payload_bytes[rel_pos + np.repeat(
            (row_payload_starts - real_starts).astype(it), real_bytes)]
    # word-wise unpack (inverse of batch_encode._group_pack): each group of
    # `width` arena bytes holds 8 values; value i = bits [i*w, (i+1)*w) of
    # the group's little-endian bitstream, extracted via a window load +
    # shift + mask — no (N, width) bit matrix. The window and the value
    # matrix stay 4-byte when the shifted value fits 32 bits (mirrors the
    # encode side; memory bandwidth is the scaling ceiling).
    k = total_pad // width
    grp = arena.reshape(k, width)
    narrow = width <= 32
    vals = np.empty((k, 8), dtype=np.uint32 if narrow else np.uint64)
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
    # drop per-row padding values
    total_vals = int(counts.sum())
    val_gaps = np.concatenate(([0], np.cumsum(pad_counts - counts)))[:-1]
    keep_idx = np.arange(total_vals, dtype=np.int64) \
        + np.repeat(val_gaps, counts)
    return vals.reshape(-1)[keep_idx].astype(np.int64) + np.repeat(refs, counts)


def _unpack_blocks(d: np.ndarray, pos: np.ndarray, counts: np.ndarray,
                   refs: np.ndarray, widths: np.ndarray,
                   out: np.ndarray | None = None,
                   out_first: np.ndarray | None = None) -> np.ndarray:
    """Unpack the packed blocks whose headers start at d[pos] (payload at
    +13), given their header fields: block i's values land at
    out[out_first[i] : out_first[i] + counts[i]]. One _unpack_group per
    width. Without `out`, returns the blocks' values back to back (int64).
    """
    if out is None:
        out = np.empty(int(counts.sum()), dtype=np.int64)
        out_first = np.cumsum(counts) - counts
    for w in np.unique(widths):
        m = widths == w
        _scatter(out, out_first[m], counts[m],
                 _unpack_group(d, counts[m], refs[m], int(w), pos[m] + 13))
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

    def codec_rows(name: str) -> np.ndarray:
        return np.flatnonzero((codec == CODEC_IDS[name]) & (n_tok > 0))

    # ---- plain: n raw i32 values at +5
    rows = codec_rows("plain")
    if rows.size:
        counts = n_tok[rows]
        _require(blen[rows] == 5 + 4 * counts, rows,
                 "plain length disagrees with its header")
        total = int(counts.sum())
        pref4 = np.concatenate(([0], np.cumsum(counts * 4)))[:-1]
        src = np.arange(total * 4) + np.repeat(starts[rows] + 5 - pref4, counts * 4)
        _scatter(out, out_offsets[rows], counts,
                 np.ascontiguousarray(d[src]).view("<i4"))

    # ---- bitpack: one packed block at +5
    rows = codec_rows("bitpack")
    if rows.size:
        s, ln, counts = starts[rows], blen[rows], n_tok[rows]
        _require(ln >= 18, rows, "bitpack subheader truncated")
        cnt, refs, widths = _block_header(d, s + 5)
        _require((cnt == counts) & (ln == 5 + _packed_size(counts, widths)),
                 rows, "bitpack length or count disagrees with its header")
        _unpack_blocks(d, s + 5, counts, refs, widths, out, out_offsets[rows])

    # ---- fordelta: [q first] at +5, packed deltas at +13
    rows = codec_rows("fordelta")
    if rows.size:
        s, ln, counts = starts[rows], blen[rows], n_tok[rows]
        _require(ln >= 26, rows, "fordelta subheader truncated")
        cnt, drefs, widths = _block_header(d, s + 13)
        _require((cnt == counts - 1)
                 & (ln == 13 + _packed_size(counts - 1, widths)), rows,
                 "fordelta length or count disagrees with its header")
        # segmented cumsum over ext = [first, deltas...] per row
        first_pos = np.cumsum(counts) - counts
        ext = np.empty(int(counts.sum()), dtype=np.int64)
        ext[first_pos] = _i64(d, s + 5)
        _unpack_blocks(d, s + 13, counts - 1, drefs, widths, ext, first_pos + 1)
        cum = np.cumsum(ext)
        corr = cum[first_pos] - ext[first_pos]
        _scatter(out, out_offsets[rows], counts, cum - np.repeat(corr, counts))

    # ---- rle: two packed blocks (run values, run lengths) at +5
    rows = codec_rows("rle")
    if rows.size:
        s, ln = starts[rows], blen[rows]
        _require(ln >= 18, rows, "rle subheader truncated")
        p = s + 5
        r_cnt, vrefs, vw = _block_header(d, p)
        q = p + _packed_size(r_cnt, vw)  # second packed block
        _require(ln >= q - s + 13, rows, "rle run-length block truncated")
        l_cnt, lrefs, lw = _block_header(d, q)
        _require((l_cnt == r_cnt) & (ln == q - s + _packed_size(r_cnt, lw)),
                 rows, "rle length or run count disagrees with its header")
        run_vals = _unpack_blocks(d, p, r_cnt, vrefs, vw)
        run_lens = _unpack_blocks(d, q, r_cnt, lrefs, lw)
        run_off = np.concatenate(([0], np.cumsum(r_cnt)))
        len_sum = np.concatenate(([0], np.cumsum(run_lens)))[run_off]
        _require(np.diff(len_sum) == n_tok[rows], rows,
                 "rle run lengths do not sum to the token count")
        _scatter(out, out_offsets[rows], n_tok[rows],
                 np.repeat(run_vals, run_lens))

    # ---- dict: [I dict_size] at +5, dict vals, packed codes
    rows = codec_rows("dict")
    if rows.size:
        s, ln, counts = starts[rows], blen[rows], n_tok[rows]
        _require(ln >= 9, rows, "dict subheader truncated")
        p = s + 5
        dsz = _u32(d, p)
        _require(ln >= 22 + 4 * dsz, rows, "dict code block truncated")
        dict_starts = p + 4
        code_block = dict_starts + 4 * dsz
        cnt, crefs, cw = _block_header(d, code_block)
        _require((cnt == counts) & (crefs >= 0)
                 & (ln == 9 + 4 * dsz + _packed_size(counts, cw)), rows,
                 "dict length or code count disagrees with its header")
        # dict arena in row order
        darena_off = np.concatenate(([0], np.cumsum(dsz)))
        total_d = int(darena_off[-1])
        dsrc = np.repeat(dict_starts, dsz * 4) + (
            np.arange(total_d * 4)
            - np.repeat(np.concatenate(([0], np.cumsum(dsz * 4)))[:-1], dsz * 4)
        )
        darena = np.ascontiguousarray(d[dsrc]).view("<i4").astype(np.int64)
        codes = _unpack_blocks(d, code_block, counts, crefs, cw)
        _require(np.maximum.reduceat(codes, np.cumsum(counts) - counts) < dsz,
                 rows, "dict code outside its dictionary")
        _scatter(out, out_offsets[rows], counts,
                 darena[codes + np.repeat(darena_off[:-1], counts)])

    # ---- fsst: the reference kernel, one blob at a time; it raises when
    # a blob's length or token count disagrees with its header
    for i in codec_rows("fsst"):
        out[out_offsets[i]: out_offsets[i + 1]] = \
            kernels.decode(d[boffs[i]: boffs[i + 1]].tobytes())

    return out, out_offsets
