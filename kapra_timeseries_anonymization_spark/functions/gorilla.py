"""Gorilla time-series compression (Facebook's in-memory TSDB codec).

Encodes one chunk = (sorted int64 timestamps, float64 values) into a byte
payload: timestamps as delta-of-delta with variable-width classes, values
as XOR-with-previous with leading/trailing-zero windows. Lossless for any
int64 timestamp sequence — delta and delta-of-delta arithmetic is mod
2^64 on both sides, so the widest class's 64-bit zigzag field round-trips
every input exactly (this fixes the pre-r02 silent truncation for
|dod| >= 2^63 WITHOUT changing the byte stream for any input that
previously round-tripped; all finite-width classes are untouched) — and
any float64 bit pattern (NaN payloads round-trip bit-exactly).

The encoder is fully vectorized numpy (r02): class selection, zigzag,
leading/trailing-zero windows and the final variable-width bit packing
are all array ops; the only Python loop is the value-window state machine
over NONZERO-xor points, and it only RECORDS new-window positions (the
per-point reuse/shift/width arrays are derived vectorized from those
events). It runs inside a grouped `applyInArrow` call per chunk
(operators/chunks.py), so at 100 TB the parallelism unit is the chunk key
and per-core throughput is the numpy kernel's (measured ~5-6x encode / ~2x decode vs
the r01 per-point loop on this sandbox, byte-identical output; see
BENCH.md for the head-to-head microbench).

Format (big-endian bit stream):
  magic 0xB1 (1 byte) | n_points uint32 | t0 int64 | v0 float64-bits |
  per point i>=1: ts class then value block.
  ts classes (zigzag dod): '0'; '10'+7b; '110'+9b; '1110'+12b; '1111'+64b
  value blocks: '0' (xor==0); '10' reuse prev window; '11'+5b lead+6b
  (meaningful_len-1) + meaningful bits.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = 0xB1
_M64 = (1 << 64) - 1

def _bitlen_u64(x: np.ndarray) -> np.ndarray:
    """Elementwise bit_length of a NONZERO uint64 array via float log2
    with exact boundary correction (float64 rounding can overshoot by one
    power of two; one shift-test fixes it)."""
    b = np.floor(np.log2(x.astype(np.float64))).astype(np.int64) + 1
    over = (x >> np.minimum(b - 1, 63).astype(np.uint64)) == 0
    b -= over
    return np.minimum(b, 64)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, width: int) -> int:
        pos = self.pos
        end = pos + width
        b1 = (end + 7) >> 3
        chunk = int.from_bytes(self.data[pos >> 3 : b1], "big")
        self.pos = end
        return (chunk >> ((b1 << 3) - end)) & ((1 << width) - 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


# per-class lookup tables: width of zigzag payload, control-code value,
# control-code width (classes: z==0, <2^7, <2^9, <2^12, full 64-bit)
_TS_WZ = np.array([0, 7, 9, 12, 64], dtype=np.uint64)
_TS_CODE = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)
_TS_WCODE = np.array([1, 2, 3, 4, 4], dtype=np.uint64)

#: decoder class lookup by the 4-bit window at the control position:
#: '0xxx' -> (1 ctrl bit, 0 payload); '10xx' -> (2,7); '110x' -> (3,9);
#: '1110' -> (4,12); '1111' -> (4,64)
_TS_CLS = [
    (1, 0)] * 8 + [(2, 7)] * 4 + [(3, 9)] * 2 + [(4, 12), (4, 64)
]


def _or_fields(
    words: np.ndarray, starts: np.ndarray, v: np.ndarray, w: np.ndarray
) -> None:
    """OR a stream of (start-bit, value, width) fields into the 64-bit word
    array. ``starts`` must be sorted ascending and widths in (0, 64].
    Word-level assembly: each field lands in at most two words; same-word
    contributions are merged with one bitwise_or.reduceat per side — no
    per-bit expansion. Columns of a point-major layout can each be OR-ed
    independently (OR is commutative), so callers pass one call per column
    instead of interleaving fields into a single sorted stream."""
    if len(starts) == 0:
        return
    one = np.uint64(1)
    ends = starts + w
    word0 = starts >> 6
    over = ends - ((word0 + 1) << 6)  # bits spilling past word0 (<=0: none)
    cut = np.maximum(over, 0).astype(np.uint64)
    lsh0 = np.maximum(-over, 0).astype(np.uint64)
    chunk0 = (v >> cut) << lsh0
    # word0 is sorted; OR-reduce runs of equal words. The spill side reuses
    # the same run boundaries: non-spill fields contribute 0 there (v&0,
    # and 0 << anything is 0), so one dense reduceat per side suffices.
    b = np.flatnonzero(word0[1:] != word0[:-1]) + 1
    s0 = np.empty(len(b) + 1, dtype=np.int64)
    s0[0] = 0
    s0[1:] = b
    heads = word0[s0]
    words[heads] |= np.bitwise_or.reduceat(chunk0, s0)
    if over.max() > 0:
        chunk1 = (v & ((one << cut) - one)) << (np.uint64(64) - cut)
        words[heads + 1] |= np.bitwise_or.reduceat(chunk1, s0)


def encode_chunk(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Encode sorted int64 timestamps + float64 values into a Gorilla
    payload. ``ts`` need not be strictly increasing (equal stamps fine)."""
    ts = np.asarray(ts, dtype=np.int64)
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(ts)
    head = struct.pack(">BI", _MAGIC, n)
    if n == 0:
        return head
    m = n - 1

    hdr_v = np.empty(2, dtype=np.uint64)
    hdr_v[0] = ts[:1].view(np.uint64)[0]
    hdr_v[1] = bits[0]
    hdr_s = np.array([0, 64], dtype=np.int64)
    hdr_w = np.array([64, 64], dtype=np.int64)
    if m == 0:
        words = np.zeros(3, dtype=np.uint64)  # +1 spill pad
        _or_fields(words, hdr_s, hdr_v, hdr_w)
        return head + words.astype(">u8").tobytes()[:16]

    # --- timestamps: zigzag delta-of-delta (mod-2^64, int64 wrap), fused
    # (control code | payload) into ONE field per point
    deltas = ts[1:] - ts[:-1]  # int64 wrap == mod-2^64 by design
    dod = np.empty_like(deltas)
    dod[0] = deltas[0]
    np.subtract(deltas[1:], deltas[:-1], out=dod[1:])
    z = ((dod << 1) ^ (dod >> 63)).view(np.uint64)  # zigzag (wraps exactly)
    cidx = (
        (z != 0).astype(np.int64)
        + (z >= 128)
        + (z >= 512)
        + (z >= 4096)
    )
    wz = _TS_WZ[cidx]
    # classes 0-3 fuse (code | payload) into one <=16-bit field; class 4
    # (4-bit code + 64-bit payload = 68 bits) must stay two fields
    is64 = cidx == 4
    any64 = bool(is64.any())
    if any64:
        wz_f = np.where(is64, 0, wz)
        tsv = (_TS_CODE[cidx] << wz_f) | np.where(is64, 0, z)
        tsw = (_TS_WCODE[cidx] + wz_f).astype(np.int64)
        ts2w = np.where(is64, 64, 0)  # int64
    else:
        tsv = (_TS_CODE[cidx] << wz) | z
        tsw = (_TS_WCODE[cidx] + wz).astype(np.int64)

    # --- values: XOR windows (vectorized prep, thin state loop on nz only)
    xor = bits[1:] ^ bits[:-1]
    nz_idx = np.flatnonzero(xor)
    xnz = xor[nz_idx]
    k = len(nz_idx)
    fvv = np.zeros(m, dtype=np.uint64)  # fused value field per point
    fvw = np.ones(m, dtype=np.int64)  # xor==0 -> single '0' bit
    ovw = np.zeros(m, dtype=np.int64)  # overflow payload (rare)
    if k:
        lead = np.minimum(64 - _bitlen_u64(xnz), 31)
        low = xnz & (~xnz + np.uint64(1))  # isolate lowest set bit
        trail = _bitlen_u64(low) - 1

        # window state machine: record only NEW-WINDOW positions; all else
        # (reuse flags, per-point shift/width) is derived vectorized — the
        # state is piecewise-constant between events
        ev = []
        ev_append = ev.append
        lead_l = lead.tolist()
        trail_l = trail.tolist()
        pl, pt = 64, -1  # prev window lead/trail (pl=64 => unset)
        for j in range(k):
            ld = lead_l[j]
            tr = trail_l[j]
            if ld < pl or tr < pt:
                ev_append(j)
                pl, pt = ld, tr
        ev_a = np.asarray(ev, dtype=np.int64)
        isnew = np.zeros(k, dtype=bool)
        isnew[ev_a] = True
        win = np.cumsum(isnew) - 1  # active window id per nz point
        trail_ev = trail[ev_a].astype(np.uint64)
        mlen_ev = (64 - lead[ev_a] - trail[ev_a]).astype(np.uint64)
        wid = mlen_ev[win]   # == own mlen at event points
        shf = trail_ev[win]  # == own trail at event points
        payload = xnz >> shf
        # fuse header (2-bit reuse / 13-bit '11'+lead+mlen) with payload
        # when the sum fits 64 bits, else spill payload to overflow column
        hdrv = np.where(
            isnew,
            (np.uint64(0b11) << np.uint64(11))
            | (lead.astype(np.uint64) << np.uint64(6))
            | (wid - np.uint64(1)),
            np.uint64(0b10),
        )
        hdrw = np.where(isnew, 13, 2)  # int64
        wid_i = wid.astype(np.int64)
        fits = hdrw + wid_i <= 64
        if fits.all():
            fvv[nz_idx] = (hdrv << wid) | payload
            fvw[nz_idx] = hdrw + wid_i
            any_ov = False
        else:
            fvv[nz_idx] = np.where(
                fits, (hdrv << np.where(fits, wid, 0)) | payload, hdrv
            )
            fvw[nz_idx] = np.where(fits, hdrw + wid_i, hdrw)
            ovw[nz_idx] = np.where(fits, 0, wid_i)
            any_ov = True
    else:
        any_ov = False

    # --- column-major assembly: per-point start offsets, then OR each
    # column's (sorted) field stream into the word array independently
    W = tsw + fvw
    if any64:
        W = W + ts2w
    if any_ov:
        W = W + ovw
    cs = np.cumsum(W)
    total = 128 + int(cs[-1])
    pstart = np.empty(m, dtype=np.int64)
    pstart[0] = 128
    pstart[1:] = 128 + cs[:-1]
    words = np.zeros(((total + 63) >> 6) + 1, dtype=np.uint64)  # +1 spill pad
    _or_fields(words, hdr_s, hdr_v, hdr_w)
    _or_fields(words, pstart, tsv, tsw)
    if any64:
        i64 = np.flatnonzero(is64)
        _or_fields(words, (pstart + tsw)[i64], z[i64], ts2w[i64])
        vstart = pstart + tsw + ts2w
    else:
        vstart = pstart + tsw
    _or_fields(words, vstart, fvv, fvw)
    if any_ov:
        ov_i = np.flatnonzero(ovw)
        _or_fields(
            words, (vstart + fvw)[ov_i], payload[np.flatnonzero(~fits)],
            ovw[ov_i],
        )
    return head + words.astype(">u8").tobytes()[: (total + 7) >> 3]


def _sliding_words(pad: np.ndarray) -> np.ndarray:
    """(8, nw) native-uint64 table of the big-endian 8-byte word at every
    byte offset: row k holds the words starting at bytes k, k+8, k+16, ...
    so the word at byte b is ``M[b & 7, b >> 3]``. Built from 8 zero-copy
    ``>u8`` views byteswapped on assignment — 8 contiguous passes over the
    payload, no per-field Horner assembly."""
    nw = (len(pad) - 7) >> 3
    M = np.empty((8, nw), dtype=np.uint64)
    for k in range(8):
        M[k] = np.frombuffer(pad.data, dtype=">u8", count=nw, offset=k)
    return M


def _extract_fields(
    M: np.ndarray, pad: np.ndarray, pos: np.ndarray, w: np.ndarray
) -> np.ndarray:
    """Vectorized extraction of (bit-pos, width<=64) fields from a
    zero-padded byte array: one gather from the sliding-word table per
    field, shift out the offset, OR in the up-to-7 spill bits from the
    9th byte. Width-0 entries yield 0 and are skipped entirely (dod==0 /
    xor==0 points — the bulk of regular-grid tier data)."""
    out = np.zeros(len(w), dtype=np.uint64)
    nz = np.flatnonzero(w)
    if len(nz) == 0:
        return out
    if len(nz) < len(w):
        pos = pos[nz]
        w = w[nz]
    b0 = (pos >> 3).astype(np.int64)
    u64 = M[b0 & 7, b0 >> 3]
    off = (pos & 7).astype(np.uint64)
    main = (u64 << off) >> (np.uint64(64) - w.astype(np.uint64))
    extra = np.maximum(off.astype(np.int64) + w - 64, 0).astype(np.uint64)
    b8 = pad[b0 + 8].astype(np.uint64)
    spill = (b8 >> (np.uint64(8) - extra)) & ((np.uint64(1) << extra) - 1)
    # when the field spills past the window, `main` already carries the
    # high part left-aligned with `extra` zero bits below — plain OR
    out[nz] = main | spill
    return out


def decode_chunk(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_chunk` — bit-exact round trip (timestamps
    reconstructed mod 2^64, exact for every int64 input sequence).

    Two-phase (r02): a thin sequential scan reads ONLY control/window
    bits to locate every variable-width field, then numpy extracts all
    payloads at once; dod -> delta -> ts is a double cumsum (mod 2^64)
    and the value chain is one bitwise_xor.accumulate.

    r05: payload extraction gathers from a sliding-word table
    (:func:`_sliding_words`) instead of assembling an 8-byte Horner
    window per field, and width-0 fields are skipped — measured
    1.13-1.64x decode on this sandbox, bit-exact. A zero-byte-run skip
    for the scan loop (consume 4 '00' points per zero byte) was
    benchmarked and REJECTED: the run-table build plus while-loop
    bookkeeping cost more than the skips saved on every dataset tried,
    including all-constant values (0.48-1.01x) — the scan's for-loop is
    already near CPython's floor and the numpy phase dominates."""
    magic, n = struct.unpack_from(">BI", payload, 0)
    if magic != _MAGIC:
        raise ValueError("not a gorilla chunk")
    if n == 0:
        e = np.empty(0, dtype=np.uint64)
        return e.view(np.int64), e.view(np.float64)
    data = payload[5:]
    r = _BitReader(data)
    t0u = r.read(64)
    v0 = r.read(64)
    if n == 1:
        return (
            np.array([t0u], dtype=np.uint64).view(np.int64),
            np.array([v0], dtype=np.uint64).view(np.float64),
        )
    m = n - 1
    zpos = [0] * m
    zw = [0] * m
    vpos = [0] * m
    vw = [0] * m
    vsh = [0] * m
    # inline control-bit scan: 24-bit byte windows + a 16-entry class
    # lookup — no per-bit method calls in the hot loop
    buf = data + b"\x00" * 8
    pos = 128
    pl, pm = 0, 0  # current value window (valid after first '11')
    for i in range(m):
        byi = pos >> 3
        win = (buf[byi] << 16) | (buf[byi + 1] << 8) | buf[byi + 2]
        wc, w_ = _TS_CLS[(win >> (20 - (pos & 7))) & 0xF]
        pos += wc
        if w_:
            zpos[i] = pos
            zw[i] = w_
            pos += w_
        byi = pos >> 3
        win = (buf[byi] << 8) | buf[byi + 1]
        two = (win >> (14 - (pos & 7))) & 3
        if two < 2:  # '0': xor == 0, one control bit
            pos += 1
        else:
            pos += 2
            if two == 3:  # '11': new window header (5b lead + 6b mlen-1)
                byi = pos >> 3
                w3 = (buf[byi] << 16) | (buf[byi + 1] << 8) | buf[byi + 2]
                h = (w3 >> (13 - (pos & 7))) & 0x7FF
                pos += 11
                pl = h >> 6
                pm = (h & 63) + 1
            vpos[i] = pos
            vw[i] = pm
            vsh[i] = 64 - pl - pm
            pos += pm

    pad = np.frombuffer(data + b"\x00" * 16, dtype=np.uint8)
    M = _sliding_words(pad)
    zpos_a = np.asarray(zpos, dtype=np.int64)
    zw_a = np.asarray(zw, dtype=np.int64)
    z = _extract_fields(M, pad, zpos_a, zw_a)
    one = np.uint64(1)
    dod = (z >> one) ^ (np.uint64(0) - (z & one))  # unzigzag, mod-2^64
    delta = np.cumsum(dod)  # uint64 wraps == mod-2^64
    ts_u = np.empty(n, dtype=np.uint64)
    ts_u[0] = t0u
    ts_u[1:] = np.uint64(t0u) + np.cumsum(delta)

    xorp = _extract_fields(
        M, pad, np.asarray(vpos, dtype=np.int64), np.asarray(vw, dtype=np.int64)
    )
    xor = xorp << np.asarray(vsh, dtype=np.uint64)
    bits = np.empty(n, dtype=np.uint64)
    bits[0] = v0
    np.bitwise_xor.accumulate(
        np.concatenate([bits[:1], xor]), out=bits
    )
    return ts_u.view(np.int64), bits.view(np.float64)
