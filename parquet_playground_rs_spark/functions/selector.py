"""Codec auto-selection from per-array statistics (pure numpy, no Spark).

The reference has NO auto-selection — its encodings are fixed per column
(`/root/reference/src/bin/js2pq/main.rs:96-112`). This module is the
new-engine capability layered on top: analyze each token array (cardinality,
run count, value range, delta range, byte-pair frequency) and pick the
lightweight codec with the smallest *predicted* size; sizes for
plain/bitpack/fordelta/rle/dict are exact closed forms of those stats, so
prediction == reality for them. FSST is the only estimated one (sampled
pair histogram). A final guard falls back to `plain` if the chosen encoding
somehow came out larger, so output size ≤ 4n + 5 always.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import kernels
from .kernels import _bits_needed, _packed_size

HEADER = 5  # codec byte + u32 n


@dataclass
class ArrayStats:
    n: int
    min_val: int
    max_val: int
    n_unique: int
    n_runs: int
    delta_min: int
    delta_max: int

    @property
    def bit_width(self) -> int:
        return _bits_needed(self.max_val - self.min_val) if self.n else 0


def compute_stats(tokens: np.ndarray) -> ArrayStats:
    t = np.asarray(tokens, dtype=np.int64)
    n = t.size
    if n == 0:
        return ArrayStats(0, 0, 0, 0, 0, 0, 0)
    mn, mx = int(t.min()), int(t.max())
    d = np.diff(t)
    n_runs = int(np.count_nonzero(d)) + 1
    n_unique = int(np.unique(t).size)
    dmin = int(d.min()) if d.size else 0
    dmax = int(d.max()) if d.size else 0
    return ArrayStats(n, mn, mx, n_unique, n_runs, dmin, dmax)


def predicted_sizes(s: ArrayStats) -> dict[str, int]:
    """Exact encoded size per codec, from stats alone (except fsst)."""
    n = s.n
    if n == 0:
        # every codec encodes the empty array as the bare 5-byte header
        return {c: HEADER for c in ("plain", "bitpack", "fordelta", "rle", "dict")}
    out = {"plain": HEADER + 4 * n}
    out["bitpack"] = HEADER + _packed_size(n, s.bit_width)
    dwidth = _bits_needed(s.delta_max - s.delta_min) if n > 1 else 0
    out["fordelta"] = HEADER + 8 + _packed_size(max(n - 1, 0), dwidth)
    # rle: run values packed at value width, run lengths at length width.
    # Length width is unknown without the runs themselves; upper-bound it
    # with bits(n) — lengths <= n. Slightly pessimistic, which only ever
    # demotes rle on arrays where it was marginal anyway.
    r = s.n_runs
    out["rle"] = HEADER + _packed_size(r, s.bit_width) + _packed_size(r, _bits_needed(n))
    u = s.n_unique
    out["dict"] = HEADER + 4 + 4 * u + _packed_size(n, _bits_needed(max(u - 1, 0)))
    return out


def estimate_fsst(tokens: np.ndarray, sample: int = 4096,
                  rounds: int = 3) -> int:
    """Estimated fsst size from a sampled byte-pair histogram.

    With rounds > 1 the recursive re-pair rounds roughly halve the
    covered-code bytes once more at the cost of an extra table + bitmap
    (kernels.encode_fsst); 0.6 is the fitted code-cost factor from
    scripts/fsst_study.py. Incompressible rows (covered ~ 0) estimate
    above plain either way, so the trial gate stays cheap to reject."""
    t = np.ascontiguousarray(tokens, dtype="<i4")
    n = t.size
    if n == 0:
        return HEADER
    pairs = t.view("<u2")
    if pairs.size > sample:
        pairs = pairs[:: pairs.size // sample]
    _values, counts = kernels._u16_counts(pairs)
    counts = np.sort(counts)[::-1][:255]
    covered = counts[counts >= 2].sum() / pairs.size
    n_pairs = 2 * n
    n_symbols = int((counts >= 2).sum())
    code_cost = 0.6 if rounds > 1 else 1.0
    extra_round_overhead = (2 * n_symbols + covered * n_pairs / 16) \
        if rounds > 1 else 0.0
    body = covered * n_pairs * code_cost + (1 - covered) * n_pairs * 2
    return int(HEADER + 6 + 2 * n_symbols + n_pairs / 8
               + extra_round_overhead + body)


def choose_codec(tokens: np.ndarray, stats: ArrayStats | None = None,
                 enable_fsst: bool = True) -> tuple[str, ArrayStats, dict[str, int]]:
    """Pick the codec with the smallest predicted size."""
    if stats is None:
        stats = compute_stats(tokens)
    sizes = predicted_sizes(stats)
    if enable_fsst and stats.n >= 64 and min(sizes.values()) > 3 * stats.n:
        # only worth probing when the lightweight codecs are near-plain
        sizes["fsst"] = estimate_fsst(tokens)
    codec = min(sizes, key=sizes.get)
    return codec, stats, sizes


def encode_auto(tokens: np.ndarray, enable_fsst: bool = True) -> tuple[bytes, str, ArrayStats]:
    """Select + encode with the plain-fallback size guard."""
    codec, stats, _sizes = choose_codec(tokens, enable_fsst=enable_fsst)
    blob = kernels.encode(tokens, codec)
    plain_size = HEADER + 4 * stats.n
    if len(blob) >= plain_size and codec != "plain":
        blob = kernels.encode_plain(np.asarray(tokens, dtype="<i4"))
        codec = "plain"
    return blob, codec, stats
