"""Whole-batch vectorized decode: the inverse of batch_encode.

Input: a pyarrow BinaryArray of self-describing blobs (kernels.py format).
Output: (values int32 concatenated, offsets int64) for the whole batch.

Headers are parsed with vectorized byte composition (no struct.unpack per
row), then rows group by (codec, bit width): each group pays ONE word-wise
unpack, with rows padded to byte-aligned regions exactly mirroring
batch_encode._group_pack. FSST rows go one by one through the reference
kernel (kernels.decode): an FSST blob holds up to a whole chunk of
tokens, so the per-call overhead is small next to its work.

Every blob's length is checked against the closed form of its header
before its payload is read, so a truncated, extended or miscounted blob
raises ValueError instead of reading into its neighbour.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import kernels
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


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
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


def header_token_counts(blobs: pa.Array) -> np.ndarray:
    """Each blob's token count as its header states it (u32 at byte 1),
    read without decoding. A blob too short to hold the header counts 0
    tokens: `decode_binary_array` rejects it."""
    d, boffs = _binary_parts(blobs)
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
    d, boffs = _binary_parts(blocks)
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

    def put(rows: np.ndarray, vals: np.ndarray) -> None:
        counts = n_tok[rows]
        total = int(counts.sum())
        pref = np.concatenate(([0], np.cumsum(counts)))[:-1]
        idx = np.arange(total) + np.repeat(out_offsets[rows] - pref, counts)
        out[idx] = vals.astype(np.int32, copy=False)

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
        put(rows, np.ascontiguousarray(d[src]).view("<i4"))

    # ---- bitpack: subheader [I n][q ref][B w] at +5, payload at +18
    rows = codec_rows("bitpack")
    if rows.size:
        s, ln, counts = starts[rows], blen[rows], n_tok[rows]
        _require(ln >= 18, rows, "bitpack subheader truncated")
        widths = d[s + 17].astype(np.int64)
        _require((_u32(d, s + 5) == counts)
                 & (ln == 5 + _packed_size(counts, widths)), rows,
                 "bitpack length or count disagrees with its header")
        refs = _i64(d, s + 9)
        for w in np.unique(widths):
            g = rows[widths == w]
            gr = refs[widths == w]
            vals = _unpack_group(d, n_tok[g], gr, int(w), starts[g] + 18)
            put(g, vals)

    # ---- fordelta: [q first] at +5, packed block at +13 -> payload at +26
    rows = codec_rows("fordelta")
    if rows.size:
        s, ln, counts = starts[rows], blen[rows], n_tok[rows]
        _require(ln >= 26, rows, "fordelta subheader truncated")
        widths = d[s + 25].astype(np.int64)
        _require((_u32(d, s + 13) == counts - 1)
                 & (ln == 13 + _packed_size(counts - 1, widths)), rows,
                 "fordelta length or count disagrees with its header")
        firsts = _i64(d, s + 5)
        drefs = _i64(d, s + 17)
        for w in np.unique(widths):
            m = widths == w
            g = rows[m]
            gc = counts[m]
            deltas = _unpack_group(d, gc - 1, drefs[m], int(w), starts[g] + 26)
            # segmented cumsum: ext = [first, deltas...] per row
            total = int(gc.sum())
            ext = np.empty(total, dtype=np.int64)
            row_off = np.concatenate(([0], np.cumsum(gc)))
            first_pos = row_off[:-1]
            mask = np.ones(total, dtype=bool)
            mask[first_pos] = False
            ext[first_pos] = firsts[m]
            ext[mask] = deltas
            g_cum = np.cumsum(ext)
            corr = g_cum[first_pos] - firsts[m]
            put(g, g_cum - np.repeat(corr, gc))

    # ---- rle: two packed blocks (run values, run lengths) at +5
    rows = codec_rows("rle")
    if rows.size:
        s, ln = starts[rows], blen[rows]
        _require(ln >= 18, rows, "rle subheader truncated")
        p = s + 5
        r_cnt = _u32(d, p)
        vw = d[p + 12].astype(np.int64)
        vbytes = (r_cnt * vw + 7) // 8
        _require(ln >= 31 + vbytes, rows, "rle run-length block truncated")
        q = p + 13 + vbytes           # second packed block
        lw = d[q + 12].astype(np.int64)
        _require((_u32(d, q) == r_cnt)
                 & (ln == 18 + vbytes + _packed_size(r_cnt, lw)), rows,
                 "rle length or run count disagrees with its header")
        vrefs = _i64(d, p + 4)
        lrefs = _i64(d, q + 4)
        # decode runs into arenas ordered by row
        run_off = np.concatenate(([0], np.cumsum(r_cnt)))
        run_vals = np.empty(int(run_off[-1]), dtype=np.int64)
        run_lens = np.empty(int(run_off[-1]), dtype=np.int64)

        def scatter_runs(dest, groups_w, refs_all, pay_starts):
            for w in np.unique(groups_w):
                m = groups_w == w
                vals = _unpack_group(d, r_cnt[m], refs_all[m], int(w), pay_starts[m])
                counts = r_cnt[m]
                total = int(counts.sum())
                idx = np.repeat(run_off[:-1][m], counts) + (
                    np.arange(total)
                    - np.repeat(np.concatenate(([0], np.cumsum(counts)))[:-1], counts)
                )
                dest[idx] = vals

        scatter_runs(run_vals, vw, vrefs, p + 13)
        scatter_runs(run_lens, lw, lrefs, q + 13)
        len_sum = np.concatenate(([0], np.cumsum(run_lens)))[run_off]
        _require(np.diff(len_sum) == n_tok[rows], rows,
                 "rle run lengths do not sum to the token count")
        put(rows, np.repeat(run_vals, run_lens))

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
        crefs = _i64(d, code_block + 4)
        cw = d[code_block + 12].astype(np.int64)
        _require((_u32(d, code_block) == counts) & (crefs >= 0)
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
        for w in np.unique(cw):
            m = cw == w
            g = rows[m]
            gc = counts[m]
            codes = _unpack_group(d, gc, crefs[m], int(w), code_block[m] + 13)
            _require(np.maximum.reduceat(codes, np.cumsum(gc) - gc) < dsz[m],
                     g, "dict code outside its dictionary")
            put(g, darena[codes + np.repeat(darena_off[:-1][m], gc)])

    # ---- fsst: the reference kernel, one blob at a time; it raises when
    # a blob's length or token count disagrees with its header
    for i in codec_rows("fsst"):
        out[out_offsets[i]: out_offsets[i + 1]] = \
            kernels.decode(d[boffs[i]: boffs[i + 1]].tobytes())

    return out, out_offsets
