"""Bit-exact vectorized reimplementations of CLD2's n-gram hash functions.

Semantics reproduced from the reference (public Apache-2.0 C++):
  - QuadHashV2 / QuadHashV2Mix : internal/cldutil_shared.cc:162-202
  - OctaHash40 / OctaHash40Mix : internal/cldutil_shared.cc:226-354
  - BiHashV2                   : internal/cldutil_shared.cc:107-122
  - PairHash                   : internal/cldutil_shared.cc:384-386
  - pre/post-space flag bits   : internal/cldutil_shared.cc:41-42
  - little-endian word masks   : internal/cldutil_shared.cc:44-47

All functions here are NumPy-vectorized over *arrays of grams*: the caller
passes one flat UTF-8 byte buffer plus per-gram (start, bytecount) arrays --
the struct-of-arrays shape CLD2 itself uses for its hit buffers
(internal/scoreonescriptspan.h:196-203). The reference does unaligned
little-endian 32-bit loads and deliberately overshoots up to 3 bytes
(internal/cldutil_shared.h:347-366); we pad the buffer and reproduce the
loads with explicit byte gathers, so results match the C++ bit-for-bit.
"""

from __future__ import annotations

import numpy as np

PRE_SPACE = np.uint32(0x00004444)   # kPreSpaceIndicator
POST_SPACE = np.uint32(0x44440000)  # kPostSpaceIndicator

# kWordMask0: little-endian masks for 0..3 residual bytes
_WORD_MASK0 = np.array([0xFFFFFFFF, 0x000000FF, 0x0000FFFF, 0x00FFFFFF],
                       dtype=np.uint32)


def _load32(buf: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Vectorized UNALIGNED_LOAD32 (little-endian) at byte offsets `off`:
    one windowed row-gather + reinterpret instead of four byte-gathers
    (~2x; callers pad buffers so off+3 is always in range)."""
    if len(buf) < 4:
        buf = np.concatenate([buf, np.zeros(4, dtype=np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(buf, 4)
    rows = np.ascontiguousarray(win[off.astype(np.int64)])
    return rows.view("<u4").ravel()


def quad_hash_v2_mix(buf: np.ndarray, start: np.ndarray, bytecount: np.ndarray,
                     prepost: np.ndarray) -> np.ndarray:
    """Vectorized QuadHashV2Mix (internal/cldutil_shared.cc:162-189)."""
    bc = bytecount.astype(np.int64)
    mask_resid = _WORD_MASK0[(bc & 3).astype(np.intp)]

    # word 0 touches every gram; words 1/2 only grams longer than 4/8
    # bytes -- most quads are exactly 4 bytes, so the dense 3-load form
    # wasted two gathers per gram (same subset pattern as octa_hash_40_mix;
    # bit-exactness pinned by golden tests + a differential fuzz)
    w0_raw = _load32(buf, start)
    w0_m = w0_raw & mask_resid
    out = (w0_m ^ (w0_m >> np.uint32(3))) ^ prepost  # case <=4

    long1 = np.flatnonzero(bc > 4)
    if len(long1):
        w0 = w0_raw[long1] ^ (w0_raw[long1] >> np.uint32(3))
        w1_raw = _load32(buf, start[long1] + 4)
        mid = bc[long1] <= 8
        # case 5..8: word1 masked; case 9..12: word1 full
        w1_m = np.where(mid, w1_raw & mask_resid[long1], w1_raw)
        w1x = w1_m ^ (w1_m << np.uint32(4))
        h = (w0 ^ prepost[long1]) + w1x
        deep = np.flatnonzero(~mid)
        if len(deep):
            g = long1[deep]
            w2_raw = _load32(buf, start[g] + 8)
            w2_m = w2_raw & mask_resid[g]
            h[deep] += w2_m ^ (w2_m << np.uint32(2))
        out[long1] = h
    return np.where(bc == 0, np.uint32(0), out).astype(np.uint32)


def quad_hash_v2(buf: np.ndarray, start: np.ndarray, bytecount: np.ndarray) -> np.ndarray:
    """Vectorized QuadHashV2: pre/post space sensed from the buffer itself
    (internal/cldutil_shared.cc:192-202; undershoots 1 byte by design --
    callers must guarantee start >= 1)."""
    pre = np.where(buf[start.astype(np.int64) - 1] == 32, PRE_SPACE, np.uint32(0))
    post = np.where(buf[(start + bytecount).astype(np.int64)] == 32, POST_SPACE, np.uint32(0))
    return quad_hash_v2_mix(buf, start, bytecount, (pre | post).astype(np.uint32))


def octa_hash_40_mix(buf: np.ndarray, start: np.ndarray, bytecount: np.ndarray,
                     prepost: np.ndarray) -> np.ndarray:
    """Vectorized OctaHash40Mix (internal/cldutil_shared.cc:226-339).

    40-bit result: low 32 bits mixed, high 8 bits a shifted byte-sum.
    Handles 1..24 bytes (ignores beyond 24, like the reference default case).
    """
    bc = np.minimum(bytecount.astype(np.int64), 24)
    mask_resid = _WORD_MASK0[(bc & 3).astype(np.intp)]
    case = (bc - 1) >> 2  # 0..5 (-1 for bc=0, discarded at the end)

    # per-word mix op as (kind, amount): kind 0 = `w ^ (w >> a)`, 1 = `w ^ (w << a)`
    # -- all in uint64 like the reference locals, so carries are preserved
    shifts = [(0, 3), (1, 4), (1, 2), (0, 8), (0, 4), (0, 6)]

    # word 0 touches every entry (dense); words 1..5 only the words long
    # enough to reach them -- typical words are <=8 bytes (case 0-1), so
    # gathering and mixing all 6 words for every entry wasted ~3x the
    # load/mix work. Subsets shrink fast; bit-exactness pinned by the
    # golden + reference-annotation tests.
    w0_raw = _load32(buf, start)
    w32 = np.where(case == 0, w0_raw & mask_resid, w0_raw)
    w = w32.astype(np.uint64)
    summ = w.copy()
    word0 = w ^ (w >> np.uint64(3))
    for k in range(1, 6):
        idx = np.flatnonzero(case >= k)
        if not len(idx):
            break
        w32 = _load32(buf, start[idx] + 4 * k)
        w32 = np.where(case[idx] == k, w32 & mask_resid[idx], w32)
        w = w32.astype(np.uint64)
        kind, amt = shifts[k]
        wx = (w ^ (w >> np.uint64(amt))) if kind == 0 else (w ^ (w << np.uint64(amt)))
        summ[idx] += w
        word0[idx] += wx

    summ = summ + (summ >> np.uint64(17))
    summ = summ + (summ >> np.uint64(9))
    summ = (summ & np.uint64(0xFF)) << np.uint64(32)
    out = (word0 ^ prepost.astype(np.uint64)) + summ
    return np.where(bytecount == 0, np.uint64(0), out).astype(np.uint64)


def octa_hash_40(buf: np.ndarray, start: np.ndarray, bytecount: np.ndarray) -> np.ndarray:
    """Vectorized OctaHash40 with space sensing (internal/cldutil_shared.cc:348-354)."""
    pre = np.where(buf[start.astype(np.int64) - 1] == 32,
                   PRE_SPACE.astype(np.uint64), np.uint64(0))
    post = np.where(buf[(np.minimum(bytecount, 24) + start).astype(np.int64)] == 32,
                    POST_SPACE.astype(np.uint64), np.uint64(0))
    return octa_hash_40_mix(buf, start, bytecount, pre | post)


def bi_hash_v2(buf: np.ndarray, start: np.ndarray, bytecount: np.ndarray) -> np.ndarray:
    """Vectorized BiHashV2 (internal/cldutil_shared.cc:107-122)."""
    bc = bytecount.astype(np.int64)
    mask_resid = _WORD_MASK0[(bc & 3).astype(np.intp)]
    w0_raw = _load32(buf, start)
    w1_raw = _load32(buf, start + 4)

    w0_m = w0_raw & mask_resid
    h_le4 = w0_m ^ (w0_m >> np.uint32(3))

    w0 = w0_raw ^ (w0_raw >> np.uint32(3))
    w1_m = w1_raw & mask_resid
    h_gt4 = w0 + (w1_m ^ (w1_m << np.uint32(18)))

    out = np.where(bc <= 4, h_le4, h_gt4)
    return np.where(bc == 0, np.uint32(0), out).astype(np.uint32)


def pair_hash(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized PairHash (internal/cldutil_shared.cc:384-386)."""
    a = a.astype(np.uint64)
    return (((a >> np.uint64(13)) | (a << np.uint64(51))) + b.astype(np.uint64)).astype(np.uint64)
