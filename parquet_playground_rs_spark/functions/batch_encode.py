"""Whole-batch vectorized encode: zero per-row Python in the hot path.

Replaces the per-row ``selector.encode_auto`` loop with segmented numpy over
the entire Arrow batch (values + offsets), the way a columnar engine treats
a page of arrays:

1. segmented stats (min/max/runs/delta-range) via ``np.*.reduceat`` /
   boundary-corrected global diffs — one numpy call per statistic per batch;
2. codec choice for all rows at once from closed-form size formulas
   (same math as selector.predicted_sizes);
3. every packed block of the batch (bitpack values, fordelta deltas, RLE
   run values and run lengths, dict codes) goes through one writer,
   ``_write_blocks``: blocks of one bit width pack together, whatever their
   codec, in ONE word-wise ``_group_pack``, each block byte-aligned so its
   payload is a slice of the group buffer;
4. blob assembly = vectorized header byte scatters + one fancy-index copy
   per bit width into one buffer (no numpy call per row).

Output blobs use the same self-describing format as functions/kernels.py —
``kernels.decode`` reads them unchanged; that equivalence is the test gate
(tests/test_batch_encode.py).

Dictionary codec note: exact per-row cardinality is the one stat without a
cheap segmented form. It only changes the outcome for "few distinct values
spread over a wide range" rows, detected here by a vectorized 8-point probe
(all probes equal + wide width) -> those rare rows take the per-row dict/
fallback path. Everything else never calls np.unique.
"""

from __future__ import annotations

import numpy as np

from . import kernels, selector
from .kernels import CODEC_IDS, _packed_size

HEADER = selector.HEADER  # codec byte + u32 n

# FSST trial gate: only rows whose best lightweight codec still needs more
# than this many bytes per token (near-incompressible rows) are tried. A
# Zipfian BPE-like stream packs below it at ~2.2 B/token, where FSST would
# save ~12% (scripts/fsst_study.py) at the price of a trial per row.
FSST_MIN_BYTES_PER_TOKEN = 3.0


def _bits_needed_arr(span: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for non-negative int64 values."""
    out = np.zeros(span.shape, dtype=np.int64)
    nz = span > 0
    # log2 is exact enough below 2^53; span <= 2^33 here
    out[nz] = np.floor(np.log2(span[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def batch_stats(values: np.ndarray, offsets: np.ndarray) -> dict[str, np.ndarray]:
    """Per-row stats for all rows of a batch, no per-row Python.

    values: int32[N] concatenated tokens; offsets: int64[n+1] row bounds.
    Returns arrays of shape [n]: n_tok, min, max, n_runs, dmin, dmax
    (delta min/max exact, row-boundary-corrected).

    Single pass over the token stream: min/max reduceat directly on int32,
    ONE shared int64 diff (dtype-parameterized subtract, no full-stream
    astype) reused for run counting and delta ranges, boundary diffs
    neutralized in place. Memory traffic per token ~28 bytes; the previous
    formulation (two diffs + two copies + int64 casts) moved ~90.
    """
    starts = offsets[:-1]
    ends = offsets[1:]
    n_tok = ends - starts
    nonempty = n_tok > 0
    n = starts.size

    mins = np.zeros(n, dtype=np.int64)
    maxs = np.zeros(n, dtype=np.int64)
    if values.size:
        ne_starts = starts[nonempty]
        mins[nonempty] = np.minimum.reduceat(values, ne_starts)
        maxs[nonempty] = np.maximum.reduceat(values, ne_starts)

    n_runs = nonempty.astype(np.int64)
    dmin = np.zeros(n, dtype=np.int64)
    dmax = np.zeros(n, dtype=np.int64)
    multi = n_tok > 1
    if values.size > 1 and multi.any():
        # d32[k] = v[k+1]-v[k] with int32 wraparound (half the traffic of
        # the previous int64 diff — the stats pass is bandwidth-bound).
        # Exactness: d32 == 0 iff the true diff is 0 (both operands are
        # int32), so run counts are exact for EVERY row; and a row's true
        # deltas fit int32 whenever its value span < 2^31 — which the
        # already-computed min/max tells us — so only the rare wide-span
        # rows take a separate exact int64 pass.
        d32 = np.subtract(values[1:], values[:-1], dtype=np.int32)
        m_starts = starts[multi]
        m_ends = ends[multi]
        # run count: cumsum over change flags; changes within row i are
        # chg[d[start .. end-2]] = C[end-2] - C[start-1]
        csum = np.cumsum(d32 != 0, dtype=np.int32)
        hi = csum[m_ends - 2]
        lo = np.where(m_starts > 0, csum[np.maximum(m_starts, 1) - 1], 0)
        n_runs[multi] = 1 + hi - lo
        # delta ranges: neutralize inter-row boundary diffs (positions
        # ends[i]-1) in place — d32 is not used after this
        bpos = ends[:-1] - 1
        bpos = bpos[(bpos >= 0) & (bpos < d32.size)]
        d32[bpos] = np.iinfo(np.int32).max
        dmin[multi] = np.minimum.reduceat(d32, m_starts)
        d32[bpos] = np.iinfo(np.int32).min
        dmax[multi] = np.maximum.reduceat(d32, m_starts)
        wide = multi & ((maxs - mins) >= 2**31)
        if wide.any():
            w_idx = np.flatnonzero(wide)
            lens_w = n_tok[w_idx]
            sel = _concat_rows(values, starts[w_idx], lens_w).astype(np.int64)
            dsub = np.diff(sel)
            sub_starts = np.concatenate(([0], np.cumsum(lens_w)))[:-1]
            bpos2 = sub_starts[1:] - 1
            dsub[bpos2] = np.iinfo(np.int64).max
            dmin[w_idx] = np.minimum.reduceat(dsub, sub_starts)
            dsub[bpos2] = np.iinfo(np.int64).min
            dmax[w_idx] = np.maximum.reduceat(dsub, sub_starts)
    return {"n_tok": n_tok, "min": mins, "max": maxs, "n_runs": n_runs,
            "dmin": dmin, "dmax": dmax}


def choose_codecs(s: dict[str, np.ndarray]) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """Vectorized codec choice; returns (codec_id array, per-codec sizes)."""
    n_tok = s["n_tok"]
    bw = _bits_needed_arr(s["max"] - s["min"])
    dbw = _bits_needed_arr(s["dmax"] - s["dmin"])
    r = s["n_runs"]
    lbw = _bits_needed_arr(n_tok)  # run-length width upper bound

    size_plain = HEADER + 4 * n_tok
    size_bitpack = HEADER + _packed_size(n_tok, bw)
    size_fordelta = np.where(
        n_tok > 0, HEADER + 8 + _packed_size(np.maximum(n_tok - 1, 0), dbw),
        size_plain)
    size_rle = HEADER + _packed_size(r, bw) + _packed_size(r, lbw)

    sizes = np.stack([size_plain, size_bitpack, size_fordelta, size_rle])
    order = np.array([CODEC_IDS["plain"], CODEC_IDS["bitpack"],
                      CODEC_IDS["fordelta"], CODEC_IDS["rle"]])
    # argmin keeps the first (plain) on ties -> safe fallback bias
    best = order[np.argmin(sizes, axis=0)]
    best = np.where(n_tok == 0, CODEC_IDS["plain"], best)
    return best, {
        "bw": bw, "dbw": dbw, "lbw": lbw,
        "best_size": sizes.min(axis=0),
        "size_plain": size_plain,
    }


def _dict_probe(values: np.ndarray, offsets: np.ndarray,
                rows: np.ndarray, max_distinct: int = 5) -> np.ndarray:
    """Vectorized 8-point sample probe: True where a row looks
    low-cardinality (few distinct values among the samples)."""
    if rows.size == 0:
        return np.zeros(0, dtype=bool)
    starts = offsets[rows]
    lens = offsets[rows + 1] - starts
    k = 8
    frac = (np.arange(k) / k)
    idx = (starts[:, None] + (lens[:, None] * frac).astype(np.int64))
    probes = values[idx]  # [rows, k]
    srt = np.sort(probes, axis=1)
    distinct = 1 + np.count_nonzero(np.diff(srt, axis=1), axis=1)
    return distinct <= max_distinct


def segmented_dict(values: np.ndarray, offsets: np.ndarray,
                   rows: np.ndarray):
    """Vectorized per-row dictionary encode for a subset of rows.

    One global lexsort replaces per-row np.unique: within each selected row
    the values are sorted, group boundaries mark uniques, dense ranks become
    the codes, scattered back to original positions.

    Returns (uniq_vals i32 concat, u_per_row, codes i64 concat in original
    order, code_width per row).
    """
    v = values
    starts = offsets[rows]
    lens = (offsets[rows + 1] - starts).astype(np.int64)
    k = rows.size
    total = int(lens.sum())
    row_ids = np.repeat(np.arange(k), lens)
    row_pref = np.concatenate(([0], np.cumsum(lens)))[:-1]
    sel = v[np.arange(total) + np.repeat(starts - row_pref, lens)]
    order = np.lexsort((sel, row_ids))
    sv = sel[order]
    sr = row_ids[order]
    newgrp = np.ones(total, dtype=bool)
    if total > 1:
        newgrp[1:] = (sv[1:] != sv[:-1]) | (sr[1:] != sr[:-1])
    uniq_vals = sv[newgrp]
    uniq_rows = sr[newgrp]
    u_per_row = np.bincount(uniq_rows, minlength=k).astype(np.int64)
    rank = np.cumsum(newgrp) - 1
    base = np.concatenate(([0], np.cumsum(u_per_row)))[:-1]
    codes_sorted = rank - base[sr]
    codes = np.empty(total, dtype=np.int64)
    codes[order] = codes_sorted
    width = _bits_needed_arr(np.maximum(u_per_row - 1, 0))
    return uniq_vals.astype(np.int32), u_per_row, codes, width, lens


def _group_pack(rel: np.ndarray, row_lens: np.ndarray,
                width: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bit-pack concatenated u32 relative values of several rows with one
    shared width (at most 32); each row starts byte-aligned. Returns
    (uint8 buffer, per-row byte size, per-row byte offset into the
    buffer).

    Layout is the little-endian bitstream (identical to
    ``np.packbits(bitorder="little")`` over per-value bit columns), but
    packed word-wise: every 8 values map to exactly ``width`` output bytes,
    built with 8 shift-or passes — ~15 bytes of memory traffic per value
    instead of the ~8*width a bit-matrix costs. That traffic is the measured
    scaling bottleneck on shared-memory hosts (BENCH/BASELINE.md).
    """
    nbytes = (row_lens * width + 7) // 8
    if width == 0:
        return np.empty(0, dtype=np.uint8), nbytes, np.zeros(row_lens.size, dtype=np.int64)
    # pad every row to a multiple of 8 values: row regions become
    # byte-aligned (pad_len*width bits % 8 == 0), so per-row slices sit at
    # byte offsets — no bit scatter.
    pad_lens = (row_lens + 7) // 8 * 8
    total_pad = int(pad_lens.sum())
    # u32 arena: the 8-wide group matrix is 32 bytes per row, not 64 —
    # memory bandwidth is the measured scaling ceiling here
    rel_pad = np.zeros(total_pad, dtype=np.uint32)
    gaps = np.concatenate(([0], np.cumsum(pad_lens - row_lens)))[:-1]
    idx_t = np.int32 if total_pad < 2**31 else np.int64
    rel_pad[np.arange(rel.size, dtype=idx_t)
            + np.repeat(gaps.astype(idx_t), row_lens)] = rel
    k = total_pad // 8
    grp = rel_pad.reshape(k, 8)
    out = np.zeros((k, width), dtype=np.uint8)
    for i in range(8):
        # value i of each group occupies stream bits [i*w, (i+1)*w)
        byte0, shift = divmod(i * width, 8)
        nb = (width + shift + 7) // 8  # <= 5 while width <= 32
        if width + shift <= 32:
            # whole shifted value fits a u32 window: stay 4-byte end-to-end
            t = (grp[:, i] << np.uint32(shift)).astype("<u4", copy=False)
            out[:, byte0:byte0 + nb] |= t.view(np.uint8).reshape(k, 4)[:, :nb]
        else:
            # the value straddles bit 32 of its window: widen to 8 bytes
            t = (grp[:, i].astype("<u8") << np.uint64(shift))
            out[:, byte0:byte0 + nb] |= t.view(np.uint8).reshape(k, 8)[:, :nb]
    pad_starts = np.concatenate(([0], np.cumsum(pad_lens)))[:-1]
    # row i's payload = packed[pad_starts[i]*w/8 : +nbytes[i]]
    pad_byte_off = pad_starts * width // 8
    return out.reshape(-1), nbytes, pad_byte_off



def _put_u32(data: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    """Scatter little-endian u32 field values at byte positions `pos`."""
    v = np.asarray(vals).astype(np.uint64, copy=False)
    for k in range(4):
        data[pos + k] = ((v >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(np.uint8)


def _put_i64(data: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    """Scatter little-endian i64 field values (two's complement) at `pos`."""
    v = np.ascontiguousarray(vals, dtype=np.int64).view(np.uint64)
    for k in range(8):
        data[pos + k] = ((v >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(np.uint8)


def _copy_into(data: np.ndarray, dst_pos: np.ndarray, src: np.ndarray,
               src_pos: np.ndarray, nbytes: np.ndarray) -> None:
    """Vectorized per-row memcpy: src[src_pos[i] : +nbytes[i]] ->
    data[dst_pos[i] : +nbytes[i]] for every row i, one fancy-index pass.
    Index math runs in int32 when both buffers allow it (they do for any
    Arrow-bounded batch) — index arrays are half the memory traffic of the
    copy itself otherwise."""
    nbytes = np.asarray(nbytes, dtype=np.int64)
    total = int(nbytes.sum())
    if total == 0:
        return
    it = np.int32 if (data.size < 2**31 and src.size < 2**31) else np.int64
    pref = np.concatenate(([0], np.cumsum(nbytes)))[:-1]
    r = np.arange(total, dtype=it)
    dst_off = (np.asarray(dst_pos, dtype=np.int64) - pref).astype(it)
    src_off = (np.asarray(src_pos, dtype=np.int64) - pref).astype(it)
    data[r + np.repeat(dst_off, nbytes)] = src[r + np.repeat(src_off, nbytes)]


def _write_blocks(data: np.ndarray, blocks: list) -> None:
    """Write packed blocks ``[u32 count][i64 ref][u8 width][bits]`` (the
    layout of kernels._pack_block) into `data`.

    Each entry of `blocks` is (pos, src, first, count, ref, width), one
    array element per block: block i's header starts at data[pos[i]] and
    its payload packs src[first[i] : first[i] + count[i]] - ref[i] at
    width[i] bits. Blocks of one width pack together whatever entry they
    come from: one _group_pack and one copy per width. A width above 32
    raises ValueError: choose_codecs stores such a row plain.
    """
    pos, first, count, ref, width = (
        np.concatenate([b[k] for b in blocks]) for k in (0, 2, 3, 4, 5))
    if width.size and width.max() > 32:
        raise ValueError(f"packed block width {int(width.max())} > 32")
    entry = np.repeat(np.arange(len(blocks)), [b[0].size for b in blocks])
    _put_u32(data, pos, count)
    _put_i64(data, pos + 4, ref)
    data[pos + 12] = width.astype(np.uint8)
    for w in np.unique(width[width > 0]):
        g = np.flatnonzero(width == w)
        rels = []
        for e in np.unique(entry[g]):
            src, ge = blocks[e][1], g[entry[g] == e]
            # subtract in the source dtype, wrapping: (v - ref) mod 2^bits
            # is the true relative value whenever it fits w bits, so an
            # int32 source stays 4-byte end to end instead of paying an
            # int64 temp per value
            rel = np.subtract(_concat_rows(src, first[ge], count[ge]),
                              np.repeat(ref[ge].astype(src.dtype), count[ge]),
                              dtype=src.dtype).view(f"u{src.itemsize}")
            rels.append(rel.astype(np.uint32, copy=False))
        buf, nbytes, boff = _group_pack(
            rels[0] if len(rels) == 1 else np.concatenate(rels),
            count[g], int(w))
        _copy_into(data, pos[g] + 13, buf, boff, nbytes)


def encode_batch_columnar(values: np.ndarray, offsets: np.ndarray):
    """Encode every row of a batch into ONE contiguous blob buffer.

    Returns (data uint8[total], blob_offsets int64[n+1], codec_ids int64[n],
    stats dict, aux dict). Row i's blob is data[blob_offsets[i] :
    blob_offsets[i+1]], byte-identical to functions/kernels.py per-row blobs.

    Fully columnar: headers are written with vectorized byte scatters,
    packed payloads with one bit-pack + one fancy-index copy per bit width
    (_write_blocks) — zero per-row Python objects (no struct.pack / bytes
    concat / list-of-bytes), which measured as ~1/3 of encode wall time at
    1M rows. The buffer + offsets feed pyarrow BinaryArray.from_buffers
    zero-copy.

    Blob lengths are computed analytically per codec BEFORE assembly; the
    chosen codec's length never exceeds the plain bound because `plain`
    participates in the argmin and exact widths only shrink the RLE
    estimate (tests/test_batch_encode.py enforces the invariant).
    """
    values = np.ascontiguousarray(kernels.as_int32(values))
    offsets = np.asarray(offsets, dtype=np.int64)
    n = offsets.size - 1
    starts, ends = offsets[:-1], offsets[1:]
    s = batch_stats(values, offsets)
    codec_ids, aux = choose_codecs(s)
    n_tok = s["n_tok"]
    PLAIN, BITPACK, FORDELTA, RLE, DICT, FSST = (
        CODEC_IDS["plain"], CODEC_IDS["bitpack"], CODEC_IDS["fordelta"],
        CODEC_IDS["rle"], CODEC_IDS["dict"], CODEC_IDS["fsst"])

    # ---- dict pass: probe-flagged low-cardinality rows, exact segmented
    # dictionary; dict wins where its size beats the current choice ----
    dict_rows = np.zeros(0, dtype=np.int64)
    dict_state = None
    gate = np.flatnonzero((n_tok >= 32) & (aux["bw"] >= 6))
    if gate.size:
        gate = gate[_dict_probe(values, offsets, gate)]
    if gate.size:
        uniq_vals, u_per_row, codes, cw, lens = segmented_dict(values, offsets, gate)
        dict_blob_sizes = HEADER + 4 + 4 * u_per_row + _packed_size(lens, cw)
        win_idx = np.flatnonzero(dict_blob_sizes < aux["best_size"][gate])
        if win_idx.size:
            dict_rows = gate[win_idx]
            codec_ids[dict_rows] = DICT
            dict_state = (uniq_vals, u_per_row, codes, cw, lens, win_idx,
                          dict_blob_sizes)

    # ---- rle run extraction (up front: exact widths fix blob lengths) ----
    rle_rows = np.flatnonzero(codec_ids == RLE)
    if rle_rows.size:
        lens_r = n_tok[rle_rows]
        sel = _concat_rows(values, starts[rle_rows], lens_r)
        total = sel.size
        row_firsts = np.concatenate(([0], np.cumsum(lens_r)))[:-1]
        is_start = np.zeros(total, dtype=bool)
        is_start[row_firsts] = True
        if total > 1:
            is_start[1:] |= sel[1:] != sel[:-1]
        start_pos = np.flatnonzero(is_start)
        run_vals = sel[start_pos]
        run_lens = np.diff(np.concatenate((start_pos, [total])))
        runs = s["n_runs"][rle_rows]
        run_first = np.concatenate(([0], np.cumsum(runs)))[:-1]
        lmin = np.minimum.reduceat(run_lens, run_first)
        lmax = np.maximum.reduceat(run_lens, run_first)
        vw = aux["bw"][rle_rows]
        lw = _bits_needed_arr(lmax - lmin)

    # ---- analytic per-row blob lengths ----
    L = np.empty(n, dtype=np.int64)
    m = codec_ids == PLAIN
    L[m] = HEADER + 4 * n_tok[m]
    m = codec_ids == BITPACK
    L[m] = HEADER + _packed_size(n_tok[m], aux["bw"][m])
    m = codec_ids == FORDELTA
    L[m] = HEADER + 8 + _packed_size(n_tok[m] - 1, aux["dbw"][m])
    if rle_rows.size:
        L[rle_rows] = HEADER + _packed_size(runs, vw) + _packed_size(runs, lw)
    if dict_rows.size:
        L[dict_rows] = dict_state[6][dict_state[5]]

    # ---- fsst trial (gate: FSST_MIN_BYTES_PER_TOKEN): replace when smaller
    fsst_blobs: dict[int, bytes] = {}
    cand = np.flatnonzero((L > FSST_MIN_BYTES_PER_TOKEN * n_tok)
                          & (n_tok >= 64) & (codec_ids != DICT))
    for i in cand:
        i = int(i)
        row = values[starts[i]: ends[i]]
        if selector.estimate_fsst(row) < L[i]:
            trial = kernels.encode_fsst(row)
            if len(trial) < L[i]:
                fsst_blobs[i] = trial
                codec_ids[i] = FSST
                L[i] = len(trial)

    # ---- assembly into one buffer ----
    blob_offsets = np.concatenate(([0], np.cumsum(L)))
    data = np.zeros(int(blob_offsets[-1]), dtype=np.uint8)
    off = blob_offsets[:-1]
    data[off] = codec_ids.astype(np.uint8)
    _put_u32(data, off + 1, n_tok)

    rows = np.flatnonzero((codec_ids == PLAIN) & (n_tok > 0))
    if rows.size:
        _copy_into(data, off[rows] + HEADER, values.view(np.uint8),
                   starts[rows] * 4, 4 * n_tok[rows])

    rows = np.flatnonzero(codec_ids == BITPACK)
    blocks = [(off[rows] + HEADER, values, starts[rows], n_tok[rows],
               s["min"][rows], aux["bw"][rows])]

    rows = np.flatnonzero(codec_ids == FORDELTA)
    lens = n_tok[rows]
    _put_i64(data, off[rows] + HEADER, values[starts[rows]])
    deltas = np.diff(_concat_rows(values, starts[rows], lens).astype(np.int64))
    blocks.append((off[rows] + HEADER + 8, deltas,
                   np.cumsum(lens) - lens, lens - 1, s["dmin"][rows],
                   aux["dbw"][rows]))

    if rle_rows.size:
        # the FSST trial may have taken rows from RLE: drop their blocks
        keep = codec_ids[rle_rows] == RLE
        rows, runs, run_first = rle_rows[keep], runs[keep], run_first[keep]
        vw, lw = vw[keep], lw[keep]
        p = off[rows] + HEADER
        blocks.append((p, run_vals, run_first, runs, s["min"][rows], vw))
        blocks.append((p + _packed_size(runs, vw), run_lens, run_first, runs,
                       lmin[keep], lw))

    if dict_rows.size:
        uniq_vals, u_per_row, codes, cw, lens, win_idx, _ = dict_state
        uoff = np.concatenate(([0], np.cumsum(u_per_row)))
        dsz = u_per_row[win_idx]
        p = off[dict_rows] + HEADER
        _put_u32(data, p, dsz)
        _copy_into(data, p + 4, uniq_vals.view(np.uint8),
                   uoff[win_idx] * 4, 4 * dsz)
        blocks.append((p + 4 + 4 * dsz, codes,
                       (np.cumsum(lens) - lens)[win_idx], lens[win_idx],
                       np.zeros(win_idx.size, dtype=np.int64), cw[win_idx]))

    _write_blocks(data, blocks)

    for i, blob in fsst_blobs.items():
        data[blob_offsets[i]: blob_offsets[i] + len(blob)] = \
            np.frombuffer(blob, dtype=np.uint8)

    aux["blob_bytes"] = L
    return data, blob_offsets, codec_ids, s, aux


def encode_batch(values: np.ndarray, offsets: np.ndarray):
    """Compatibility wrapper over encode_batch_columnar: materializes the
    per-row blobs as a list[bytes]. Returns (blobs, codec ids, stats, aux).
    The Spark operator uses the columnar form directly (zero-copy Arrow)."""
    data, blob_offsets, codec_ids, s, aux = encode_batch_columnar(
        values, offsets)
    db = data.tobytes()
    blobs = [db[blob_offsets[i]: blob_offsets[i + 1]]
             for i in range(blob_offsets.size - 1)]
    return blobs, codec_ids, s, aux


def _concat_rows(v64: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Gather a group's rows into one contiguous array (vectorized take).
    int32 index math when the source allows (always within an Arrow batch)."""
    total = int(lens.sum())
    it = np.int32 if v64.size < 2**31 else np.int64
    row_pref = np.concatenate(([0], np.cumsum(lens)))[:-1]
    idx = np.arange(total, dtype=it) + np.repeat(
        (starts - row_pref).astype(it), lens)
    return v64[idx]
