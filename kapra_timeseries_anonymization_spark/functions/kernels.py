"""Pure-numpy kernels for the KAPRA time-series pipeline.

These are the engine's arithmetic core: they run inside vectorized pandas
UDFs on executors *and* double as the pytest oracle. All semantics follow
the public reference implementation `federissoo/KAPRA-TimeSeries-Anonymization`
(`src/sax_utils.py`, `src/kapra_utils.py`) including its edge cases:

- z-normalization returns all-zeros when sigma < 1e-6 (sax_utils.py:3-13)
- PAA returns the series unchanged when n == n_segments; uses
  ``np.array_split`` boundaries for non-divisible lengths (sax_utils.py:15-35)
- SAX with level <= 1 (i.e. < 3 and not in the breakpoint table) yields
  ``"a" * n_segments``; level 2 uses a real binary alphabet (sax_utils.py:62-85)
- reconstruction clamps outer bins at +/- 3 sigma (sax_utils.py:87-119)
- pattern loss: both-zero-norm feature vectors -> 0.0, one-zero-norm -> 1.0
  (sax_utils.py:135-176)
- envelope: per-timestamp min/max; VL = sqrt(sum((hi-lo)^2)/T)
  (kapra_utils.py:5-68)

Everything here is written block-vectorized: the primary entry points take a
2-D float64 array ``(n_series, n_points)`` and return per-row results, so a
single Arrow batch is one numpy call, never a per-row Python loop.
"""

from __future__ import annotations

import math

import numpy as np

# Equi-probable breakpoints of N(0,1) for alphabet sizes 2..20, as published
# in the SAX literature (Lin, Keogh et al.), rounded to 2 decimals exactly as
# the reference's table (reference src/sax_utils.py:39-59) so symbol
# assignment matches bit-for-bit.
SAX_BREAKPOINTS: dict[int, list[float]] = {
    2: [0],
    3: [-0.43, 0.43],
    4: [-0.67, 0, 0.67],
    5: [-0.84, -0.25, 0.25, 0.84],
    6: [-0.97, -0.43, 0, 0.43, 0.97],
    7: [-1.07, -0.57, -0.18, 0.18, 0.57, 1.07],
    8: [-1.15, -0.67, -0.32, 0, 0.32, 0.67, 1.15],
    9: [-1.22, -0.76, -0.43, -0.14, 0.14, 0.43, 0.76, 1.22],
    10: [-1.28, -0.84, -0.52, -0.25, 0, 0.25, 0.52, 0.84, 1.28],
    11: [-1.34, -0.91, -0.6, -0.35, -0.11, 0.11, 0.35, 0.6, 0.91, 1.34],
    12: [-1.38, -0.97, -0.67, -0.43, -0.21, 0.0, 0.21, 0.43, 0.67, 0.97, 1.38],
    13: [-1.43, -1.02, -0.74, -0.5, -0.29, -0.1, 0.1, 0.29, 0.5, 0.74, 1.02, 1.43],
    14: [-1.47, -1.07, -0.79, -0.57, -0.37, -0.18, 0.0, 0.18, 0.37, 0.57, 0.79,
         1.07, 1.47],
    15: [-1.5, -1.11, -0.84, -0.62, -0.43, -0.25, -0.08, 0.08, 0.25, 0.43, 0.62,
         0.84, 1.11, 1.5],
    16: [-1.53, -1.15, -0.89, -0.67, -0.49, -0.32, -0.16, 0.0, 0.16, 0.32, 0.49,
         0.67, 0.89, 1.15, 1.53],
    17: [-1.56, -1.19, -0.93, -0.72, -0.54, -0.38, -0.22, -0.07, 0.07, 0.22,
         0.38, 0.54, 0.72, 0.93, 1.19, 1.56],
    18: [-1.59, -1.22, -0.97, -0.76, -0.59, -0.43, -0.28, -0.14, 0.0, 0.14,
         0.28, 0.43, 0.59, 0.76, 0.97, 1.22, 1.59],
    19: [-1.62, -1.25, -1.0, -0.8, -0.63, -0.48, -0.34, -0.2, -0.07, 0.07, 0.2,
         0.34, 0.48, 0.63, 0.8, 1.0, 1.25, 1.62],
    20: [-1.64, -1.28, -1.04, -0.84, -0.67, -0.52, -0.39, -0.25, -0.13, 0.0,
         0.13, 0.25, 0.39, 0.52, 0.67, 0.84, 1.04, 1.28, 1.64],
}

_SIGMA_FLOOR = 1e-6


# ---------------------------------------------------------------------------
# Block (2-D) kernels — the hot path inside pandas UDFs
# ---------------------------------------------------------------------------

def znorm_block(block: np.ndarray) -> np.ndarray:
    """Z-normalize each row of ``block`` (n_series, n_points).

    Rows with std < 1e-6 become all-zeros (reference sax_utils.py:11-12).
    """
    block = np.asarray(block, dtype=np.float64)
    mean = block.mean(axis=1, keepdims=True)
    std = block.std(axis=1, keepdims=True)
    flat = (std < _SIGMA_FLOOR).ravel()
    safe = np.where(std < _SIGMA_FLOOR, 1.0, std)
    out = (block - mean) / safe
    if flat.any():
        out[flat] = 0.0
    return out


def _segment_bounds(n: int, n_segments: int) -> list[tuple[int, int]]:
    """Segment boundaries identical to ``np.array_split(range(n), k)``."""
    base, extra = divmod(n, n_segments)
    bounds = []
    start = 0
    for i in range(n_segments):
        size = base + (1 if i < extra else 0)
        bounds.append((start, start + size))
        start += size
    return bounds


def paa_block(block: np.ndarray, n_segments: int) -> np.ndarray:
    """Piecewise Aggregate Approximation of each row.

    Matches reference sax_utils.py:15-35: identity when n == n_segments,
    reshape-mean when divisible, array_split means otherwise.
    """
    block = np.asarray(block, dtype=np.float64)
    n_rows, n = block.shape
    if n == n_segments:
        return block
    if n % n_segments == 0:
        return block.reshape(n_rows, n_segments, -1).mean(axis=2)
    out = np.empty((n_rows, n_segments), dtype=np.float64)
    for i, (s, e) in enumerate(_segment_bounds(n, n_segments)):
        out[:, i] = block[:, s:e].mean(axis=1)
    return out


def _sax_codes(pa: np.ndarray, level: int) -> np.ndarray:
    """Symbol indices (0 == 'a') of a PAA block at one alphabet size.

    level <= 1 (not in the table, < 3) is all 'a'; level 2 is a genuine
    binary alphabet; a table miss at level >= 3 raises — matching
    reference sax_utils.py:62-85.
    """
    if level not in SAX_BREAKPOINTS:
        if level < 3:
            return np.zeros(pa.shape, dtype=np.uint8)
        raise ValueError(f"Alphabet size {level} unsupported")
    bps = np.asarray(SAX_BREAKPOINTS[level], dtype=np.float64)
    return np.searchsorted(bps, pa, side="left").astype(np.uint8)


def _words(codes: np.ndarray) -> np.ndarray:
    """Object array of SAX words from (n_rows, n_segments) symbol indices,
    read from one byte buffer instead of a per-row join."""
    b = np.ascontiguousarray(codes + 97, dtype=np.uint8)
    w = b.shape[1]
    return b.view(f"S{w}").ravel().astype(f"U{w}").astype(object)


def sax_block(block: np.ndarray, level: int, n_segments: int = 4) -> np.ndarray:
    """SAX words for each row of ``block``; returns object array of str."""
    pa = paa_block(znorm_block(block), n_segments)
    return _words(_sax_codes(pa, level))


def sax_all_levels_block(
    block: np.ndarray, levels: list[int], n_segments: int = 4
) -> dict[int, np.ndarray]:
    """SAX words at every level in one pass (znorm+PAA computed once)."""
    pa = paa_block(znorm_block(block), n_segments)
    return {level: _words(_sax_codes(pa, level)) for level in levels}


def sax_pl_levels_block(
    block: np.ndarray, levels: list[int], n_segments: int = 4,
    with_pl: bool = True,
) -> tuple[np.ndarray, np.ndarray | None]:
    """SAX symbol indices at every level and each row's pattern loss
    against its OWN word at that level, z-norm and PAA computed once.

    Returns ``codes`` (n_rows, len(levels), n_segments) uint8 and ``pl``
    (n_rows, len(levels)), or None without ``with_pl``. PL follows KAPRA's
    policy (reference kapra_anonymization.py:273-280): level < 3 -> 1.0.
    Otherwise it is :func:`pattern_loss_block` of (row, word, level)
    without the per-row loop: the reconstruction is ``sax_to_values``'s
    bin midpoints, each repeated ceil(t / n_segments) times and cut to t,
    and the dot products are row sums of elementwise products. Those sums
    depend only on the row, so a record's PL is the same in any batch;
    they differ from the BLAS dots of :func:`pattern_loss_block` in the
    last bits only.
    """
    block = np.asarray(block, dtype=np.float64)
    n, t = block.shape
    zn = znorm_block(block)
    pa = paa_block(zn, n_segments)
    codes = np.empty((n, len(levels), n_segments), dtype=np.uint8)
    for j, level in enumerate(levels):
        codes[:, j] = _sax_codes(pa, level)
    if not with_pl:
        return codes, None
    pl = np.ones((n, len(levels)), dtype=np.float64)
    ii, jj = np.nonzero(~np.eye(t, dtype=bool))  # feature_vector_block order
    seg = np.arange(t) // -(-t // n_segments)
    # np.take keeps every block C-contiguous: a row sum over a strided
    # (fancy-indexed) block runs in another order than over the same row
    # alone, which would make a record's PL depend on its batch
    fa = np.take(zn, ii, axis=1) - np.take(zn, jj, axis=1)
    na = np.sqrt((fa * fa).sum(axis=1))
    for j, level in enumerate(levels):
        if level < 3:
            continue
        ext = np.array([-3.0, *SAX_BREAKPOINTS[level], 3.0])
        mids = (ext[:-1] + ext[1:]) / 2  # sax_to_values' bin midpoints
        rec = np.take(np.take(mids, codes[:, j]), seg, axis=1)
        fb = np.take(rec, ii, axis=1) - np.take(rec, jj, axis=1)
        nb = np.sqrt((fb * fb).sum(axis=1))
        zero = (na == 0) | (nb == 0)
        cos = (fa * fb).sum(axis=1) / np.where(zero, 1.0, na * nb)
        pl[:, j] = np.where(
            zero, np.where((na == 0) & (nb == 0), 0.0, 1.0), 1.0 - cos)
    return codes, pl


def sax_to_values(sax_string: str, alphabet_size: int, original_length: int) -> np.ndarray:
    """Reconstruct a z-normalized series from a SAX word (bin midpoints,
    outer bins clamped at +/-3 sigma, PAA re-expanded by np.repeat) —
    reference sax_utils.py:87-119."""
    if alphabet_size not in SAX_BREAKPOINTS:
        raise ValueError(f"Alphabet size {alphabet_size} not supported.")
    ext = [-3.0] + [float(b) for b in SAX_BREAKPOINTS[alphabet_size]] + [3.0]
    vals = []
    for ch in sax_string:
        i = ord(ch) - 97
        if 0 <= i < len(ext) - 1:
            vals.append((ext[i] + ext[i + 1]) / 2)
        else:
            vals.append(0.0)
    values = np.array(vals, dtype=np.float64)
    if len(values) != original_length:
        reps = int(np.ceil(original_length / len(values)))
        return np.repeat(values, reps)[:original_length]
    return values


def feature_vector_block(block: np.ndarray) -> np.ndarray:
    """All ordered pairwise differentials q_i - q_j (i != j) per row.

    Row-major off-diagonal flatten matches the reference's nested loop order
    (sax_utils.py:121-133): output shape (n_rows, n*(n-1)).
    """
    block = np.asarray(block, dtype=np.float64)
    n_rows, n = block.shape
    diffs = block[:, :, None] - block[:, None, :]          # (rows, i, j)
    mask = ~np.eye(n, dtype=bool)
    return diffs[:, mask]


def pattern_loss_block(
    block: np.ndarray, sax_words: np.ndarray, levels: np.ndarray
) -> np.ndarray:
    """Pattern Loss per row: 1 - cos(FV(znorm(row)), FV(reconstruct(sax))).

    Zero-norm handling per reference sax_utils.py:160-166 (both zero -> 0.0,
    one zero -> 1.0). Invalid levels raise per-row ValueError exactly where
    the reference would; callers replicate the reference's try/except policy.

    The last bits depend on memory alignment: ``np.dot`` and
    ``np.linalg.norm`` go through BLAS, whose summation order follows the
    address of the row inside ``fv_orig``, so a row can differ by ~1e-16
    from the same row passed alone (:func:`pattern_loss_single`). Callers
    that only sum or compare losses within a tolerance may use it: the
    naive node split's per-record PL, checked within 1e-9. Callers that
    rank losses must not: the naive bad-leaf absorption picks the nearest
    good leaf by strict ``<``, so a flipped last bit changes which leaf
    wins a tie — it calls :func:`pattern_loss_single` once per pair.
    """
    block = np.asarray(block, dtype=np.float64)
    n_rows, n = block.shape
    zn = znorm_block(block)
    fv_orig = feature_vector_block(zn)
    # Reconstructions are shared across identical (sax, level, n) triples.
    out = np.empty(n_rows, dtype=np.float64)
    cache: dict[tuple[str, int], np.ndarray] = {}
    for r in range(n_rows):
        key = (sax_words[r], int(levels[r]))
        fv_rec = cache.get(key)
        if fv_rec is None:
            rec = sax_to_values(key[0], key[1], n)
            fv_rec = feature_vector_block(rec.reshape(1, -1))[0]
            cache[key] = fv_rec
        a = fv_orig[r]
        dot = np.dot(a, fv_rec)
        na = np.linalg.norm(a)
        nb = np.linalg.norm(fv_rec)
        if na == 0 or nb == 0:
            out[r] = 0.0 if (na == 0 and nb == 0) else 1.0
        else:
            out[r] = 1.0 - dot / (na * nb)
    return out


def pattern_loss_single(series, sax_string: str, alphabet_size: int) -> float:
    """Scalar pattern loss (mirrors reference calculate_pattern_loss)."""
    arr = np.asarray(series, dtype=np.float64).reshape(1, -1)
    return float(
        pattern_loss_block(
            arr, np.array([sax_string], dtype=object), np.array([alphabet_size])
        )[0]
    )


def envelope(block: np.ndarray) -> tuple[np.ndarray, np.ndarray, float]:
    """Envelope (per-timestamp min/max) + Instant Value Loss of a cluster.

    VL = sqrt(sum((hi-lo)^2) / T) — reference kapra_utils.py:54-66.
    """
    data = np.asarray(block, dtype=np.float64)
    if data.ndim == 1:
        data = data.reshape(1, -1)
    n = data.shape[1]
    if n == 0:
        return np.array([]), np.array([]), 0.0
    lo = np.min(data, axis=0)
    hi = np.max(data, axis=0)
    diff = hi - lo
    vl = math.sqrt(float(np.sum(diff ** 2)) / n)
    return lo, hi, vl


def envelope_vl(lo: np.ndarray, hi: np.ndarray) -> float:
    """VL of an already-computed envelope (exact merge path: VL depends only
    on the envelope, and envelopes merge by elementwise min/max)."""
    lo = np.asarray(lo, dtype=np.float64)
    hi = np.asarray(hi, dtype=np.float64)
    n = lo.shape[0]
    if n == 0:
        return 0.0
    diff = hi - lo
    return math.sqrt(float(np.sum(diff ** 2)) / n)


def merge_envelopes(
    lo1: np.ndarray, hi1: np.ndarray, lo2: np.ndarray, hi2: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact envelope union: elementwise min of lows, max of highs."""
    return np.minimum(lo1, lo2), np.maximum(hi1, hi2)
