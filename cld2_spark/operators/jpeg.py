"""JPEG (ITU-T T.81) codec in pure numpy — no image library: baseline
(SOF0) and progressive (SOF2), grayscale and YCbCr color. Closes the
JPEG half of the "pixel-level features are stubbed" gap the same way
the PNG path did (multimodal.decode_png_pixels): the container has no
codecs, so the repo carries its own spec-conformant implementation of
the public byte format.

Scope: 8-bit precision, five sampling layouts — single-component
grayscale and 3-component YCbCr at 4:4:4, 4:2:0 (the camera/web
layout, 16x16 MCUs), 4:2:2 (broadcast/video, 16x8 MCUs) and 4:1:1
(DV/camcorder, 32x8 MCUs) — each baseline (encode_jpeg_gray/_color/
_420/_422/_411, DRI/RSTn restart intervals for gray and 4:4:4) and
progressive with spectral selection AND successive approximation
(encode_jpeg_progressive_*, libjpeg's standard scan scripts, AC
correction-bit refinement, T.81 G.1.2.2/G.1.2.3). Progressive
reorganizes the same quantized coefficients, so its decode equals the
baseline round trip EXACTLY (pinned in pytest and by the shared driver
oracles). Out of scope (rejected cleanly, never misdecoded): arithmetic
coding, 12-bit precision, lossless and hierarchical modes, progressive
restart intervals.

The four public decoders are wrappers of one path (_decode): one marker
parser (_parse_jpeg) for both frame types, two entropy walks — the
baseline MCU walk (_baseline_coefs over _decode_segment_zz) and the
progressive scan walk (_progressive_coefs) — that write each block to
its row in its component's raster grid, and one plane assembler
(batched dequantize + IDCT, replicate upsample, clip or YCbCr -> RGB).
Interleaved scans of either mode walk the MCU grid of _scan_order,
whose blocks past a component's raster grid are A.2.4 dummies.

Conformance evidence without a reference codec in the container:
- encoder and decoder are independent directions of the spec sharing
  only constant tables — the decoder parses DQT/SOFn/DHT from the FILE
  (canonical Huffman reconstruction per F.2.2.3), never from the
  encoder's in-memory tables, so a table-emission bug breaks round-trip;
- the zigzag order is GENERATED from the anti-diagonal walk rather than
  transcribed (transcription errors impossible);
- round-trip error is bounded by quantization analytically: a constant
  block is DC-only and reconstructs EXACTLY (pinned in pytest), and
  smooth gradients reconstruct within the quant-table bound;
- bit-stuffing (0xFF -> 0xFF 0x00) and byte padding (1-fill) follow
  B.1.1.5/F.1.2.3 and are exercised by fixtures whose entropy stream
  contains 0xFF bytes.

The 8x8 DCT is computed in fixed-order IEEE arithmetic (_fdct/_idct),
never by a BLAS matmul, so encoded bytes and decoded pixels are the same
under every OpenBLAS kernel (a constant block with an odd level sits
exactly on a quantization tie, where an FMA kernel's last-bit difference
flips the rounding). All encoders share one coefficient step
(_zigzag_coefs) and one header writer; the baseline layouts differ only
in their sampling factors (_encode_baseline), the progressive ones only
in their scan script (_encode_progressive).

Reference parity note: CLD2 itself has no media path; this module exists
for the training-pipeline multimodal mandate (SURVEY.md §2.13).
"""

from __future__ import annotations

import re
import struct
from functools import lru_cache
from typing import NamedTuple

import numpy as np

# Annex K Table K.1 — luminance quantization (quality 50)
QTABLE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int64)

# Annex K Tables K.3/K.5 — luminance DC/AC Huffman (BITS, HUFFVAL)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

# Annex K Table K.2 — chrominance quantization
QTABLE_C = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int64)

# Annex K Tables K.4/K.6 — chrominance DC/AC Huffman
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]


def _zigzag_order() -> np.ndarray:
    """The T.81 Figure A.6 zigzag scan, generated from the anti-diagonal
    walk (even diagonals ascend, odd descend) instead of transcribed."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag = diag[::-1]
        order += [r * 8 + c for r, c in diag]
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
# the inverse permutation: zz[_DEZIGZAG] is zigzag-ordered zz in natural
# (row-major) order
_DEZIGZAG = np.argsort(ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix: FDCT = D @ B @ D.T, IDCT = D.T @ C @ D."""
    k, n = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    d = np.cos((2 * n + 1) * k * np.pi / 16) * 0.5
    d[0, :] = 1 / np.sqrt(8)
    return d


_DCT = _dct_matrix()


def _ordered_matmul(m: np.ndarray, x: np.ndarray) -> np.ndarray:
    """m @ x for an 8x8 m and an (8, N) x in fixed-order IEEE arithmetic:
    each output is the k = 0 product plus the k = 1..7 products added in
    ascending k, one correctly rounded multiply and one add per term, so
    no BLAS kernel, FMA or SIMD width can change a bit. This is the order
    OpenBLAS's generic kernel sums in, so the result equals its matmul
    bit for bit. A row of x that is zero everywhere is skipped: its
    products are zero and leave every sum unchanged (up to the sign of a
    zero, which rounding to an integer erases)."""
    ks = np.flatnonzero(x.any(axis=1))
    if not len(ks):
        return np.zeros((8, x.shape[1]))
    p = m.T[ks, :, None] * x[ks, None, :]   # p[k, i, c] = m[i, k] x[k, c]
    acc = p[0]
    for q in p[1:]:
        acc += q
    return acc


def _sandwich(left: np.ndarray, x: np.ndarray, right: np.ndarray
              ) -> np.ndarray:
    """(left @ x) @ right for every block of an (n, 8, 8) stack. Both
    products run over the whole batch laid out as one (8, 8n) matrix, so
    each step is one long array op rather than one call per block."""
    n = len(x)
    x = np.asarray(x, dtype=np.float64).transpose(1, 0, 2).reshape(8, 8 * n)
    y = _ordered_matmul(left, x)                           # y[i, (b, j)]
    yt = y.reshape(8, n, 8).transpose(2, 1, 0).reshape(8, 8 * n)
    z = _ordered_matmul(right.T, yt)                       # z[j, (b, i)]
    return z.reshape(8, n, 8).transpose(1, 2, 0)


def _fdct(blocks: np.ndarray) -> np.ndarray:
    """Forward 2-D DCT of (n, 8, 8) level-shifted samples: D @ B @ D.T."""
    return _sandwich(_DCT, blocks, _DCT.T)


def _idct(coefs: np.ndarray) -> np.ndarray:
    """Inverse 2-D DCT of (n, 8, 8) dequantized coefficients: D.T @ C @ D."""
    return _sandwich(_DCT.T, coefs, _DCT)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical assignment (C.2)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:           # B.1.1.5 byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # 1-fill padding (F.1.2.3)
        return bytes(self.buf)


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


_RST_SPLIT = re.compile(b"\xff[\xd0-\xd7]")


def _split_restart_segments(scan: bytes, ri: int, n_mcus: int
                            ) -> list[bytes]:
    """Split entropy data at RSTn markers (B.2.1.2). Unambiguous: a real
    0xFF inside entropy data is always stuffed to FF00, so FF D0-D7 can
    only be a restart marker. Raises ValueError when the segment count
    does not match ceil(n_mcus / ri) — a malformed stream.
    """
    if ri <= 0:
        return [scan]
    segs = _RST_SPLIT.split(scan)
    if len(segs) != -(-n_mcus // ri):
        raise ValueError("restart segment count")
    return segs


# (DC codes, AC codes) per Huffman table id: 0 luminance, 1 chrominance
_CODES = ((_canonical_codes(DC_BITS, DC_VALS),
           _canonical_codes(AC_BITS, AC_VALS)),
          (_canonical_codes(DC_BITS_C, DC_VALS_C),
           _canonical_codes(AC_BITS_C, AC_VALS_C)))


def _seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: marker, 2-byte length, payload (B.1.1.4)."""
    return struct.pack(">HH", marker, len(payload) + 2) + payload


# per Huffman/quantization table id (0 luminance, 1 chrominance): its
# DQT segment and its DC + AC DHT segments
_TABLE_SEGS = [
    (_seg(0xFFDB, bytes([t]) + qt.reshape(64)[ZIGZAG].astype(np.uint8)
          .tobytes()),
     _seg(0xFFC4, bytes([t] + dc_bits + dc_vals))
     + _seg(0xFFC4, bytes([0x10 | t] + ac_bits + ac_vals)))
    for t, (qt, dc_bits, dc_vals, ac_bits, ac_vals) in enumerate((
        (QTABLE, DC_BITS, DC_VALS, AC_BITS, AC_VALS),
        (QTABLE_C, DC_BITS_C, DC_VALS_C, AC_BITS_C, AC_VALS_C)))]


def _frame_header(sof: int, h: int, w: int, samps: list[tuple[int, int]],
                  restart_interval: int = 0) -> bytes:
    """SOI, DQT, DRI (when restart_interval > 0), SOFn and DHT of a 1- or
    3-component frame at sampling factors `samps`: the first component
    uses the Annex K luminance tables (id 0), the others the chrominance
    tables (id 1)."""
    segs = _TABLE_SEGS[:min(len(samps), 2)]
    out = b"\xff\xd8" + b"".join(dqt for dqt, _ in segs)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sof_payload = struct.pack(">BHHB", 8, h, w, len(samps))
    for c, (hc, vc) in enumerate(samps):
        sof_payload += bytes([c + 1, (hc << 4) | vc, min(c, 1)])
    return out + _seg(sof, sof_payload) + b"".join(dht for _, dht in segs)


def _sos(sels: list[tuple[int, int]], ss: int, se: int, ahal: int) -> bytes:
    """SOS segment: (component id, Td << 4 | Ta) per scan component, then
    Ss, Se and Ah << 4 | Al."""
    return _seg(0xFFDA, bytes([len(sels)]) + bytes(sum(sels, ()))
                + bytes([ss, se, ahal]))


def _zigzag_coefs(plane: np.ndarray, rows: int, cols: int,
                  qt: np.ndarray) -> np.ndarray:
    """Quantized coefficients in zigzag order, one row per 8x8 block in
    raster order, of a level-shifted plane edge-padded to rows x cols
    blocks: one batched FDCT per plane, not one call per block."""
    # edge replication by clamped indices (np.pad's edge mode, cheaper)
    ri = np.minimum(np.arange(rows * 8), plane.shape[0] - 1)
    ci = np.minimum(np.arange(cols * 8), plane.shape[1] - 1)
    blocks = (plane[ri[:, None], ci].reshape(rows, 8, cols, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    coefs = np.round(_fdct(blocks) / qt).astype(np.int64)
    return coefs.reshape(-1, 64)[:, ZIGZAG]


def _put(bw: _BitWriter, codes: dict, sym: int, v: int, s: int) -> None:
    """The Huffman code of `sym`, then v's s-bit amplitude (F.1.2.1)."""
    bw.write(*codes[sym])
    if s:
        bw.write(v if v > 0 else v + (1 << s) - 1, s)


def _emit_ac(bw: _BitWriter, vals: list[int], ac_codes: dict) -> None:
    """Run/size-code a list of AC values (F.1.2.2): ZRL per 16 zeros
    before a nonzero, and one EOB (EOBRUN = 1, always legal) when
    trailing zeros remain. A baseline block passes zigzag 1..63, a
    progressive first scan its point-transformed band."""
    last = len(vals) - 1
    while last >= 0 and not vals[last]:
        last -= 1
    run = 0
    for v in vals[:last + 1]:
        if not v:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])
            run -= 16
        s = _csize(v)
        _put(bw, ac_codes, (run << 4) | s, v, s)
        run = 0
    if last < len(vals) - 1:
        bw.write(*ac_codes[0x00])


def _encode_baseline(planes: list[np.ndarray], samps: list[tuple[int, int]],
                     h: int, w: int, restart_interval: int) -> bytes:
    """Baseline (SOF0) JPEG of level-shifted component planes at sampling
    factors `samps`. FDCT, quantization and zigzag run once per plane
    over its MCU-padded block grid; the MCU walk then entropy-codes the
    precomputed rows in the T.81 A.2.3 interleave (per component, vc
    rows of hc blocks) with per-component DC differencing.
    `restart_interval` > 0 emits a DRI segment and byte-aligned RSTn
    markers every that many MCUs (DC predictors reset, marker id cycling
    D0-D7 per B.2.1.2)."""
    hmax = max(hc for hc, _ in samps)
    vmax = max(vc for _, vc in samps)
    mrows, mcols = -(-h // (8 * vmax)), -(-w // (8 * hmax))
    zzs = [_zigzag_coefs(pl, mrows * vc, mcols * hc,
                         QTABLE_C if c else QTABLE).tolist()
           for c, (pl, (hc, vc)) in enumerate(zip(planes, samps))]
    bw = _BitWriter()
    pieces: list[bytes] = []
    prev = [0] * len(samps)
    for m in range(mrows * mcols):
        if restart_interval and m and m % restart_interval == 0:
            pieces += [bw.flush(),
                       bytes([0xFF, 0xD0 + (m // restart_interval - 1) % 8])]
            bw = _BitWriter()
            prev = [0] * len(samps)
        my, mx = divmod(m, mcols)
        for c, (hc, vc) in enumerate(samps):
            dc_codes, ac_codes = _CODES[min(c, 1)]
            for byy in range(vc):
                row = ((my * vc + byy) * mcols + mx) * hc
                for zz in zzs[c][row:row + hc]:
                    diff = zz[0] - prev[c]
                    s = _csize(diff)
                    _put(bw, dc_codes, s, diff, s)
                    _emit_ac(bw, zz[1:], ac_codes)
                    prev[c] = zz[0]
    pieces.append(bw.flush())
    sels = [(c + 1, 0x11 if c else 0) for c in range(len(samps))]
    return (_frame_header(0xFFC0, h, w, samps, restart_interval)
            + _sos(sels, 0, 63, 0) + b"".join(pieces) + b"\xff\xd9")


def _gray_plane(pixels: np.ndarray):
    """(planes, samps, h, w) of a uint8 (h, w) image: the level-shifted
    single component."""
    px = np.asarray(pixels, dtype=np.uint8)
    return [px.astype(np.float64) - 128.0], [(1, 1)], *px.shape


def encode_jpeg_gray(pixels: np.ndarray,
                     restart_interval: int = 0) -> bytes:
    """Baseline grayscale JPEG of a uint8 (h, w) array (_encode_baseline);
    `restart_interval` > 0 adds DRI + RSTn every that many MCUs."""
    return _encode_baseline(*_gray_plane(pixels), restart_interval)


class _BitReader:
    """MSB-first reader over one scan's (or restart segment's) entropy-
    coded bytes."""

    def __init__(self, data: bytes) -> None:
        # un-stuff FF00 -> FF once, up front
        data = data.replace(b"\xff\x00", b"\xff")
        self.pos = 0    # bit position
        self.nbits = 8 * len(data)
        # 4 zero pad bytes so the 40-bit window read by symbol() and
        # _decode_segment_zz never slices short near end-of-stream (the
        # nbits checks still reject actual over-reads)
        self.data = data + b"\x00\x00\x00\x00"

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("bit stream exhausted")
        bit = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise ValueError("bit stream exhausted")
        bp = self.pos >> 3
        off = self.pos & 7
        need = (off + n + 7) >> 3
        v = int.from_bytes(self.data[bp:bp + need], "big")
        self.pos += n
        return (v >> (8 * need - off - n)) & ((1 << n) - 1)

    def symbol(self, table: tuple[bytes, bytes]) -> int:
        """One Huffman symbol: the LUT key is the next 16 bits, taken from
        the same 40-bit window _decode_segment_zz reads. A valid final code
        may be shorter than 16 bits; its length is checked against nbits,
        so the zero pad never fabricates data."""
        lens, syms = table
        pos = self.pos
        bp = pos >> 3
        idx = (int.from_bytes(self.data[bp:bp + 5], "big")
               >> (24 - (pos & 7))) & 0xFFFF
        ln = lens[idx]
        if ln == 0 or pos + ln > self.nbits:
            raise ValueError("invalid Huffman code")
        self.pos = pos + ln
        return syms[idx]


@lru_cache(maxsize=256)
def _huff_table_cached(defn: bytes) -> tuple[bytes, bytes]:
    """A canonical Huffman table's decode LUTs (code lengths, symbols),
    keyed by the next 16 bits: one lookup replaces the per-bit tree walk
    (codes are <=16 bits, T.81 F.2.2.3). Codes are assigned canonically
    (C.2); a code of length ln owns the 2^(16 - ln) keys it prefixes.
    The LUTs are `bytes` (not ndarrays): CPython indexes bytes to a plain
    int with no numpy-scalar boxing, ~3x faster in the hot loop.
    Construction is ~100x the cost of decoding one small image's blocks,
    and real corpora reuse a handful of tables (our encoder's, Annex K's,
    libjpeg's defaults) across millions of files — so tables are
    memoized by their exact DHT definition bytes (bits + vals)."""
    bits, vals = defn[:16], defn[16:]
    syms = np.zeros(1 << 16, dtype=np.uint8)
    lens = np.zeros(1 << 16, dtype=np.uint8)
    code = 0
    k = 0
    for ln in range(1, 17):
        span = 1 << (16 - ln)
        for _ in range(bits[ln - 1]):
            syms[code * span:(code + 1) * span] = vals[k]
            lens[code * span:(code + 1) * span] = ln
            code += 1
            k += 1
        code <<= 1
    return lens.tobytes(), syms.tobytes()


def _decode_huff_tables(payload: bytes) -> dict[int, tuple[bytes, bytes]]:
    """DHT payload -> {table_class<<4|id: LUTs} (canonical
    reconstruction, F.2.2.3). One DHT segment may carry multiple tables
    back to back."""
    out = {}
    i = 0
    while i < len(payload):
        tc_id = payload[i]
        nvals = sum(payload[i + 1:i + 17])
        out[tc_id] = _huff_table_cached(payload[i + 1:i + 17 + nvals])
        i += 17 + nvals
    return out


def _decode_segment_zz(seg: bytes, order: list[tuple[int, int]],
                       luts: list[tuple]) -> None:
    """Entropy-decode one restart segment of a baseline scan (the whole
    scan without restarts): for each (component, row) of `order` in
    turn, one block's zigzag coefficients into that component's Z[row]
    (T.81 F.2.2: DC diff then run-length AC), the DC predictors starting
    at 0 (E.2.4). `luts` holds per component its (DC code lengths, DC
    symbols, AC code lengths, AC symbols, Z). This is the bit-serial
    floor of JPEG decode, so the loop is hand-inlined: each symbol reads
    a single 40-bit window that covers the <=16-bit Huffman code AND its
    <=11-bit value bits (off<=7 + 16 + 11 = 34 < 40), one int.from_bytes
    per coefficient."""
    br = _BitReader(seg)
    data = br.data
    nbits = br.nbits
    pos = 0
    prev = [0] * len(luts)
    for c, row in order:
        dlen, dsym, alen, asym, Z = luts[c]
        # DC
        bp = pos >> 3
        off = pos & 7
        v = int.from_bytes(data[bp:bp + 5], "big")
        idx = (v >> (24 - off)) & 0xFFFF
        ln = dlen[idx]
        if ln == 0 or pos + ln > nbits:
            raise ValueError("invalid Huffman code")
        s = dsym[idx]
        pos += ln
        if s:
            if pos + s > nbits:
                raise ValueError("bit stream exhausted")
            val = (v >> (40 - off - ln - s)) & ((1 << s) - 1)
            pos += s
            if val < (1 << (s - 1)):
                val += 1 - (1 << s)
            prev[c] += val
        Z[row, 0] = prev[c]
        k = 1
        while k < 64:
            bp = pos >> 3
            off = pos & 7
            v = int.from_bytes(data[bp:bp + 5], "big")
            idx = (v >> (24 - off)) & 0xFFFF
            ln = alen[idx]
            if ln == 0 or pos + ln > nbits:
                raise ValueError("invalid Huffman code")
            rs = asym[idx]
            pos += ln
            if rs == 0:            # EOB
                break
            if rs == 0xF0:         # ZRL
                k += 16
                continue
            k += rs >> 4
            s = rs & 0x0F
            if k > 63:
                raise ValueError("AC index overrun")
            if s:  # s==0 outside EOB/ZRL: malformed, but decode as 0 like
                   # the reference loop did (read_bits(0) -> _extend -> 0)
                if pos + s > nbits:
                    raise ValueError("bit stream exhausted")
                val = (v >> (40 - off - ln - s)) & ((1 << s) - 1)
                pos += s
                if val < (1 << (s - 1)):
                    val += 1 - (1 << s)
                Z[row, k] = val
            k += 1


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _read_dqt(payload: bytes, qts: dict[int, np.ndarray]) -> None:
    """Parse a DQT segment's tables into qts {id: natural-order (8, 8)
    table}; one segment may carry several. A 16-bit table is out of
    profile."""
    j = 0
    while j < len(payload):
        if payload[j] & 0xF0:
            raise ValueError("16-bit quantization table")
        zz = np.frombuffer(payload[j + 1:j + 65], dtype=np.uint8)
        qts[payload[j] & 0x0F] = zz[_DEZIGZAG].astype(np.int64).reshape(8, 8)
        j += 65


class _Frame(NamedTuple):
    """One SOF0 or SOF2 frame as its markers define it (T.81 B.2)."""
    progressive: bool
    h: int
    w: int
    samps: list[tuple[int, int]]   # (H, V) sampling factors, SOF order
    qts: list[np.ndarray]          # each component's quantization table
    ri: int                        # DRI restart interval, 0 without one
    # (component indices, Td<<4|Ta per component, Ss, Se, Ah, Al,
    #  the Huffman tables in force at the SOS, entropy-coded bytes)
    scans: list[tuple]


# sampling factors of the supported frames: gray, 4:4:4, 4:2:0, 4:2:2
# and 4:1:1 (chroma 1x1); anything else is rejected, not misdecoded
_LAYOUTS = ([(1, 1)], [(1, 1)] * 3, [(2, 2), (1, 1), (1, 1)],
            [(2, 1), (1, 1), (1, 1)], [(4, 1), (1, 1), (1, 1)])

# the marker that ends a scan's entropy-coded bytes: FF followed by
# anything but a stuffed 00 (B.1.1.5) or a restart marker (B.2.1.2)
_SCAN_END = re.compile(b"\xff[^\x00\xd0-\xd7]")


def _parse_jpeg(buf: bytes) -> _Frame:
    """The one marker walk of every decoder: DQT, SOF0/SOF2, DHT, DRI
    and each SOS with its entropy-coded bytes, which run to the next
    marker that is not a stuffed FF00 or an RSTn. A baseline frame stops
    at its first SOS; a progressive one reads scans up to EOI. Each scan
    keeps the Huffman tables defined before its SOS. One rule for every
    mode: SOS selectors must name SOF components, a baseline scan
    carries every component in SOF order, and a one-component frame's
    sampling factors read as 1x1 (A.2.2). Raises ValueError (or an
    IndexError / struct.error on a short segment) for anything outside
    the profile: other SOF types, precision != 8, a component count
    other than 1 or 3, a layout not in _LAYOUTS, 16-bit tables."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("no SOI")
    qts: dict[int, np.ndarray] = {}
    huff: dict[int, tuple[bytes, bytes]] = {}
    ri = 0
    sof = None
    scans: list[tuple] = []
    i = 2
    while i + 4 <= len(buf):
        if buf[i] != 0xFF:
            raise ValueError("marker expected")
        marker = (buf[i] << 8) | buf[i + 1]
        if marker == 0xFFD9:
            break
        (ln,) = struct.unpack_from(">H", buf, i + 2)
        payload = buf[i + 4:i + 2 + ln]
        i += 2 + ln
        if marker == 0xFFDB:
            _read_dqt(payload, qts)
        elif marker in (0xFFC0, 0xFFC2):
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8 or nc not in (1, 3) or len(payload) < 6 + 3 * nc:
                raise ValueError("frame out of profile")
            samps = [(1, 1)] if nc == 1 else [
                (hv >> 4, hv & 0x0F) for hv in payload[7:6 + 3 * nc:3]]
            if samps not in _LAYOUTS:
                raise ValueError("sampling layout out of profile")
            sof = (marker == 0xFFC2, h, w, payload[6:6 + 3 * nc:3], samps,
                   payload[8:6 + 3 * nc:3])
        elif marker in (0xFFC1, 0xFFC3):
            raise ValueError("extended/lossless frame")
        elif marker == 0xFFC4:
            huff = {**huff, **_decode_huff_tables(payload)}
        elif marker == 0xFFDD:
            (ri,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xFFDA:
            if sof is None:
                raise ValueError("SOS before SOF")
            progressive, ids = sof[0], sof[3]
            ns = payload[0]
            sels = payload[1:1 + 2 * ns:2]
            # bytes.index raises ValueError for an id the SOF lacks
            comps = [ids.index(cid) for cid in sels]
            ss, se, ahal = payload[1 + 2 * ns:4 + 2 * ns]
            if not progressive and sels != ids:
                raise ValueError("baseline scan lacks SOF components")
            m = _SCAN_END.search(buf, i)
            end = m.start() if m else len(buf)
            scans.append((comps, payload[2:2 + 2 * ns:2], ss, se, ahal >> 4,
                          ahal & 0x0F, huff, buf[i:end]))
            if not progressive:
                break
            i = end
    if sof is None or not scans:
        raise ValueError("no frame or no scan")
    progressive, h, w, _, samps, tqs = sof
    if h == 0 or w == 0:
        raise ValueError("empty frame")
    return _Frame(progressive, h, w, samps, [qts[q] for q in tqs], ri,
                  scans)


def _scan_order(f: _Frame, comps: list[int], grids: list[tuple[int, int]]
                ) -> list[tuple[int, int]]:
    """(index into comps, raster row) of every block of a scan, in coding
    order. A one-component scan walks its component's raster grid
    (A.2.2); an interleaved one walks the MCU grid, vc rows of hc blocks
    per component (A.2.3), where a block outside its component's raster
    grid is a dummy (A.2.4) with row -1 (the spare last row of Z)."""
    if len(comps) == 1:
        bh, bw = grids[comps[0]]
        return [(0, b) for b in range(bh * bw)]
    hmax, vmax = f.samps[0]     # in every _LAYOUTS entry Y's are largest
    order = []
    for my in range(-(-f.h // (8 * vmax))):
        for mx in range(-(-f.w // (8 * hmax))):
            for ci, c in enumerate(comps):
                hc, vc = f.samps[c]
                bh, bw = grids[c]
                for r in range(my * vc, my * vc + vc):
                    for col in range(mx * hc, mx * hc + hc):
                        order.append((ci, r * bw + col
                                      if r < bh and col < bw else -1))
    return order


def _baseline_coefs(f: _Frame, grids: list[tuple[int, int]],
                    Zs: list[np.ndarray]) -> None:
    """Entropy-decode a baseline frame's one scan (1 or 3 components)
    into Zs in the _scan_order MCU walk, one restart interval (E.2.4) at
    a time."""
    comps, tdtas, _, _, _, _, huff, data = f.scans[0]
    luts = [(*huff[t >> 4], *huff[0x10 | (t & 0x0F)], Zs[c])
            for c, t in zip(comps, tdtas)]
    order = _scan_order(f, comps, grids)
    bpm = sum(hc * vc for hc, vc in f.samps) if len(comps) > 1 else 1
    segs = _split_restart_segments(data, f.ri, len(order) // bpm)
    step = f.ri * bpm or len(order)
    for s, seg in enumerate(segs):
        _decode_segment_zz(seg, order[s * step:(s + 1) * step], luts)


def _idct_blocks(Zs: list[np.ndarray], qts: list[np.ndarray]
                 ) -> list[np.ndarray]:
    """Dezigzag + dequantize each component's (n, 64) zigzag matrix with
    its table, then ONE 2-D IDCT over the blocks of all components (a
    small image's IDCT is mostly fixed NumPy overhead per call), split
    back into one (n, 8, 8) stack per component. Each block's IDCT is
    independent of its batch (the batch decides only which all-zero
    coefficient rows _ordered_matmul skips, which changes at most the
    sign of a zero), so the pixels equal per-component calls."""
    blocks = _idct(np.concatenate([Z[:, _DEZIGZAG].reshape(-1, 8, 8) * qt
                                   for Z, qt in zip(Zs, qts)]))
    out, start = [], 0
    for Z in Zs:
        out.append(blocks[start:start + len(Z)])
        start += len(Z)
    return out


def _decode(buf: bytes, progressive: bool, nc: int) -> np.ndarray | None:
    """The one decode path: parse, entropy-decode each component into its
    raster block grid (the true-dims geometry of A.2.4), then one plane
    assembler — batched dequantize + IDCT, each grid laid out as a plane
    and replicate-upsampled to the image's sampling — then clip (gray) or
    YCbCr -> RGB (color), cropped to (h, w). None unless the file is a
    `progressive` frame of `nc` components that decodes cleanly."""
    try:
        f = _parse_jpeg(buf)
        if f.progressive != progressive or len(f.samps) != nc:
            return None
        hmax, vmax = f.samps[0]     # in every _LAYOUTS entry Y's are largest
        # (block rows, block cols) of each component's raster grid:
        # ceil(ceil(h * vc / vmax) / 8) == ceil(h * vc / (8 * vmax))
        grids = [(-(-f.h * vc // (8 * vmax)), -(-f.w * hc // (8 * hmax)))
                 for hc, vc in f.samps]
        # every block costs at least one bit of some scan, so a frame
        # larger than its scans can code is corrupt: rejected before its
        # coefficient matrices are allocated
        if sum(bh * bw for bh, bw in grids) > 8 * sum(
                len(scan[-1]) for scan in f.scans):
            return None
        # one spare last row per matrix takes the dummy blocks (row -1)
        Zs = [np.zeros((bh * bw + 1, 64), dtype=np.int64)
              for bh, bw in grids]
        (_progressive_coefs if progressive else _baseline_coefs)(
            f, grids, Zs)
        planes = []
        for blocks, (bh, bw), (hc, vc) in zip(
                _idct_blocks([Z[:-1] for Z in Zs], f.qts), grids, f.samps):
            p = (blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh * 8, bw * 8))
            if hc < hmax:
                p = np.repeat(p, hmax // hc, axis=1)
            if vc < vmax:
                p = np.repeat(p, vmax // vc, axis=0)
            planes.append(p)
    except (IndexError, KeyError, ValueError, struct.error):
        return None
    if nc == 1:
        px = planes[0] + 128.0
        return np.rint(px, out=px).clip(0, 255, out=px).astype(
            np.uint8)[:f.h, :f.w]
    return ycbcr_to_rgb(np.stack([p[:f.h, :f.w] for p in planes], axis=-1)
                        + 128.0)


def decode_jpeg_gray(buf: bytes) -> np.ndarray | None:
    """Decode a baseline single-component JPEG produced by any conformant
    encoder (not just encode_jpeg_gray): marker walk, DQT/SOF0/DHT from
    the file, Huffman entropy decode, dequantize, dezigzag, IDCT.
    Returns a uint8 (h, w) array, or None for anything unparseable or
    outside the supported profile (progressive and color go to their
    own decoders). DRI/RSTn restart intervals are decoded (predictor
    reset + byte-aligned segment per E.2.4).
    """
    return _decode(buf, False, 1)


def gray_fixture_pixels(media_id: int) -> np.ndarray:
    """Deterministic grayscale test image for media_id: a diagonal ramp
    with id-dependent slope/phase (smooth -> small quantization error,
    non-trivial AC coefficients). Dims exercise non-multiple-of-8 crops.
    It is frame 0 of the MJPEG video fixture."""
    from cld2_spark.operators.multimodal import video_frame_pixels

    return video_frame_pixels(media_id, 0)


# the columns of a gray feature row: media_id, then jpeg_gray_features
GRAY_FEATURE_COLS = ("media_id", "width", "height", "px_sum", "px_sumsq",
                     "px_min", "px_max", "h0", "h1", "h2", "h3")


def jpeg_gray_features(px: np.ndarray) -> tuple[int, ...]:
    """Integer-exact features of a decoded grayscale image: dims, sum,
    sum of squares, min, max, 4-bin histogram."""
    v = px.astype(np.int64)
    hist = np.bincount(v.reshape(-1) >> 6, minlength=4)
    return (px.shape[1], px.shape[0], int(v.sum()), int((v * v).sum()),
            int(v.min()), int(v.max()),
            int(hist[0]), int(hist[1]), int(hist[2]), int(hist[3]))


def jpeg_feature_extract(df, id_col: str = "media_id",
                         payload_col: str = "payload"):
    """mapInPandas: decode baseline grayscale JPEG payloads and emit the
    integer-exact feature row per decodable payload (others dropped).
    Per-row Python is inherent here — entropy decoding is bit-serial by
    design (each Huffman symbol's position depends on all previous ones);
    the production scale-out is rows-across-executors, not SIMD."""
    from cld2_spark.operators.multimodal import _media_stage

    def row(buf: bytes) -> tuple[int, ...] | None:
        px = decode_jpeg_gray(buf)
        return None if px is None else jpeg_gray_features(px)

    return _media_stage(df, row, list(GRAY_FEATURE_COLS), id_col,
                        payload_col)


# ------------------------------------------------------------- color ----


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range RGB -> YCbCr (float64, unclipped)."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF YCbCr -> RGB uint8 (clipped)."""
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)),
                   0, 255).astype(np.uint8)


def _ycc_planes(rgb: np.ndarray, fx: int, fy: int):
    """(planes, samps, h, w) of a uint8 (h, w, 3) RGB image for a layout
    with chroma factors (fx, fy): level-shifted Y at the image dims plus
    Cb/Cr box-averaged over fy x fx pixels. The image is edge-padded to
    full MCU multiples BEFORE downsampling, so baseline and progressive
    encoders see the same chroma edge samples and progressive-subsampled
    decode equals baseline-subsampled decode bit for bit. The chroma
    dims are exactly the raster block grid
    (ceil(ceil(w/fx)/8)*8 == ceil(w/(8*fx))*8)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    mh, mw = 8 * fy, 8 * fx                    # MCU dims for these layouts
    ph, pw = -(-h // mh) * mh, -(-w // mw) * mw
    ycc = rgb_to_ycbcr(np.pad(rgb, ((0, ph - h), (0, pw - w), (0, 0)),
                              mode="edge")) - 128.0
    planes = [ycc[:h, :w, 0]]
    for c in (1, 2):
        acc = np.zeros((ph // fy, pw // fx))
        for dy in range(fy):
            for dx in range(fx):
                acc += ycc[dy::fy, dx::fx, c]
        planes.append(acc / (fx * fy))
    return planes, [(fx, fy), (1, 1), (1, 1)], h, w


def encode_jpeg_color(rgb: np.ndarray, restart_interval: int = 0) -> bytes:
    """Baseline color JPEG at 4:4:4 (no chroma subsampling): interleaved
    Y/Cb/Cr MCUs of one 8x8 block each, luminance tables for Y and
    chrominance tables for Cb/Cr. `restart_interval` > 0 emits DRI + RSTn
    every that many MCUs, all three DC predictors reset at each marker."""
    return _encode_baseline(*_ycc_planes(rgb, 1, 1), restart_interval)


def encode_jpeg_420(rgb: np.ndarray) -> bytes:
    """Baseline 4:2:0 — the camera/web layout: 16x16 MCUs of four Y
    blocks (2x2) plus one Cb and one Cr block of 2x2-averaged chroma."""
    return _encode_baseline(*_ycc_planes(rgb, 2, 2), 0)


def encode_jpeg_422(rgb: np.ndarray) -> bytes:
    """Baseline 4:2:2 — the broadcast/video-frame layout: 16x8 MCUs of
    two Y blocks plus one Cb and one Cr block of 2x1-averaged chroma."""
    return _encode_baseline(*_ycc_planes(rgb, 2, 1), 0)


def encode_jpeg_411(rgb: np.ndarray) -> bytes:
    """Baseline 4:1:1 — the DV/camcorder layout: 32x8 MCUs of four Y
    blocks plus one Cb and one Cr block of 4x1-averaged chroma."""
    return _encode_baseline(*_ycc_planes(rgb, 4, 1), 0)


def decode_jpeg_color(buf: bytes) -> np.ndarray | None:
    """Decode a baseline 3-component color JPEG at 4:4:4, 4:2:0, 4:2:2
    or 4:1:1: returns uint8 (h, w, 3) RGB, or None for anything
    unparseable / out of profile (grayscale goes to decode_jpeg_gray;
    other sampling layouts are rejected, not misdecoded)."""
    return _decode(buf, False, 3)


def color_fixture_pixels(media_id: int) -> np.ndarray:
    """Deterministic RGB test image: three phase-shifted triangle ramps
    (continuous per channel, so quantized-DCT error stays small)."""
    h = 8 * (2 + media_id % 3) + media_id % 5
    w = 8 * (2 + media_id % 4) + media_id % 7
    y, x = np.mgrid[0:h, 0:w]
    r = np.abs(((x + 2 * y + media_id) % 510) - 255)
    g = np.abs(((2 * x + y + 3 * media_id) % 510) - 255)
    b = np.abs(((x + y + 7 * media_id) % 510) - 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def jpeg_color_features(px: np.ndarray) -> tuple[int, ...]:
    """Integer-exact features of a decoded RGB image: dims + per-channel
    sum/min/max of the decoded uint8 planes."""
    v = px.astype(np.int64)
    out = [px.shape[1], px.shape[0]]
    for c in range(3):
        out += [int(v[..., c].sum()), int(v[..., c].min()),
                int(v[..., c].max())]
    return tuple(out)


def jpeg_color_feature_extract(df, id_col: str = "media_id",
                               payload_col: str = "payload"):
    """mapInPandas: decode color JPEG payloads — baseline (4:4:4/4:2:0/
    4:2:2) with a progressive (SOF2) fallback, the profile sniff a real
    ingest pipeline does — and emit integer-exact per-channel features
    (undecodable rows dropped)."""
    from cld2_spark.operators.multimodal import _media_stage

    def row(buf: bytes) -> tuple[int, ...] | None:
        px = decode_jpeg_color(buf)
        if px is None:
            px = decode_jpeg_progressive_color(buf)
        return None if px is None else jpeg_color_features(px)

    return _media_stage(df, row, [
        "media_id", "width", "height", "r_sum", "r_min", "r_max",
        "g_sum", "g_min", "g_max", "b_sum", "b_min", "b_max"],
        id_col, payload_col)


# ---- progressive JPEG (SOF2) ----------------------------------------------
# Progressive scans split the zigzag spectrum across multiple SOS scans
# (T.81 G.1): a DC scan (Ss=Se=0) then AC band scans (Ss..Se), with the
# EOBRUN run-length mechanism coding runs of band-empty blocks.
# Implemented in FULL: spectral selection AND successive approximation
# (point-transformed first scans + one-bit refinement scans with spec
# correction-bit ordering), single-component AND multi-component color
# at every baseline sampling layout (A.2.4 dummy blocks at MCU edges in
# interleaved DC scans; per-component raster grids for AC scans).

PROG_BANDS = ((1, 5), (6, 63))   # AC scans after the DC scan


def _emit_ac_refine_scan(bw: _BitWriter, zz: np.ndarray, ac_codes: dict,
                         ss: int, se: int, al: int) -> None:
    """AC refinement (Ah = Al+1), T.81 G.1.2.3 correction-bit order."""
    band = zz[:, ss:se + 1]
    for absv, neg in zip((np.abs(band) >> al).tolist(), (band < 0).tolist()):
        eob = len(absv) - 1              # the last newly-nonzero position
        while eob >= 0 and absv[eob] != 1:
            eob -= 1
        run, pending = 0, []
        for k, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            # ZRL before ANY nonzero (history included), but only
            # while a newly-nonzero still follows (k <= eob) —
            # otherwise the run folds into the EOB
            while run > 15 and k <= eob:
                bw.write(*ac_codes[0xF0])
                for bit in pending:
                    bw.write(bit, 1)
                pending = []
                run -= 16
            if t > 1:                    # history: correction bit
                pending.append(t & 1)
                continue
            bw.write(*ac_codes[(run << 4) | 1])
            bw.write(0 if neg[k] else 1, 1)
            for bit in pending:
                bw.write(bit, 1)
            pending = []
            run = 0
        if run > 0 or pending:           # EOB (EOBRUN=1) + flush
            bw.write(*ac_codes[0x00])
            for bit in pending:
                bw.write(bit, 1)


# libjpeg's standard progressive script for a single-component image
# (jcparam.c jpeg_simple_progression): DC MSBs, coarse AC bands, then
# one AC refinement per bit plane and the DC LSB. This is what
# `cjpeg -progressive` emits for grayscale — the web's progressive
# profile, successive approximation included.
SA_SCRIPT = (
    ("dc", 0, 0, 0, 1),
    ("ac", 1, 5, 0, 2),
    ("ac", 6, 63, 0, 2),
    ("ac", 1, 63, 2, 1),
    ("dc", 0, 0, 1, 0),
    ("ac", 1, 63, 1, 0),
)

# libjpeg's standard progressive script for 3 components
# (jcparam.c jpeg_simple_progression): interleaved-DC MSBs, coarse Y AC
# band, full chroma AC, Y AC tail, one refinement per bit plane.
SA_SCRIPT_COLOR = (
    ("dc", (0, 1, 2), 0, 0, 0, 1),
    ("ac", (0,), 1, 5, 0, 2),
    ("ac", (2,), 1, 63, 0, 1),
    ("ac", (1,), 1, 63, 0, 1),
    ("ac", (0,), 6, 63, 0, 2),
    ("ac", (0,), 1, 63, 2, 1),
    ("dc", (0, 1, 2), 0, 0, 1, 0),
    ("ac", (2,), 1, 63, 1, 0),
    ("ac", (1,), 1, 63, 1, 0),
    ("ac", (0,), 1, 63, 1, 0),
)


def _encode_progressive(planes: list[np.ndarray],
                        samps: list[tuple[int, int]], h: int, w: int,
                        script) -> bytes:
    """Progressive (SOF2) JPEG of level-shifted component planes at their
    TRUE sample dims, one scan per `script` entry (kind, comps, Ss, Se,
    Ah, Al). Each component is coded over its own raster block grid;
    interleaved DC scans walk the MCU grid with DUMMY blocks (diff 0 /
    refinement bit 0) at its edges per A.2.4, AC scans are
    single-component (B.2.3). First scans send point-transformed values
    (DC: arithmetic shift; AC: magnitude shift, sign reapplied, EOBRUN =
    1 per band-empty block); refinement scans follow T.81 G.1.2.3. Every
    scan reorganizes the SAME quantized coefficients as the baseline
    encoders, so the full decode equals the baseline round trip EXACTLY.
    """
    hmax = max(sx for sx, _ in samps)
    vmax = max(sy for _, sy in samps)
    zzs, grids = [], []
    for c, pl in enumerate(planes):
        grids.append((-(-pl.shape[0] // 8), -(-pl.shape[1] // 8)))
        zzs.append(_zigzag_coefs(pl, *grids[c], QTABLE_C if c else QTABLE))
    mcu_rows, mcu_cols = -(-h // (8 * vmax)), -(-w // (8 * hmax))

    def dc_positions(comps):
        for my in range(mcu_rows):
            for mx in range(mcu_cols):
                for ci, c in enumerate(comps):
                    hc, vc = samps[c]
                    bh, bw_ = grids[c]
                    for byy in range(vc):
                        for bxx in range(hc):
                            r, col = my * vc + byy, mx * hc + bxx
                            yield ci, (r * bw_ + col
                                       if r < bh and col < bw_ else -1)

    out = _frame_header(0xFFC2, h, w, samps)
    for kind, comps, ss, se, ah, al in script:
        bw = _BitWriter()
        if kind == "dc":
            dcs = [(zzs[c][:, 0] >> al).tolist() for c in comps]
            prevs = [0] * len(comps)
            for ci, b in dc_positions(comps):
                if ah:                 # refinement: bit Al, 0 for a dummy
                    bw.write(dcs[ci][b] & 1 if b >= 0 else 0, 1)
                    continue
                # a dummy block codes diff 0 (predictor unchanged)
                v = dcs[ci][b] if b >= 0 else prevs[ci]
                diff = v - prevs[ci]
                prevs[ci] = v
                s = _csize(diff)
                _put(bw, _CODES[min(comps[ci], 1)][0], s, diff, s)
        elif ah == 0:
            band = zzs[comps[0]][:, ss:se + 1]
            ac_codes = _CODES[min(comps[0], 1)][1]
            for vals in (np.sign(band) * (np.abs(band) >> al)).tolist():
                _emit_ac(bw, vals, ac_codes)
        else:
            _emit_ac_refine_scan(bw, zzs[comps[0]],
                                 _CODES[min(comps[0], 1)][1], ss, se, al)
        # chroma uses table set 1; a grayscale AC scan names DC table 1,
        # which an AC scan never reads
        td_ta0 = 0x10 if ss and len(samps) == 1 else 0
        sels = [(c + 1, 0x11 if c else td_ta0) for c in comps]
        out += _sos(sels, ss, se, (ah << 4) | al) + bw.flush()
    return out + b"\xff\xd9"


def encode_jpeg_progressive_gray(pixels: np.ndarray) -> bytes:
    """Spectral-selection progressive grayscale JPEG: SOF2 + three scans
    (DC coefficients; AC 1-5; AC 6-63), band-empty blocks coded as single
    EOBs (EOBRUN=1) so the decoder's EOBRUN path is exercised."""
    script = [("dc", (0,), 0, 0, 0, 0)] + [
        ("ac", (0,), ss, se, 0, 0) for ss, se in PROG_BANDS]
    return _encode_progressive(*_gray_plane(pixels), script)


def encode_jpeg_progressive_sa_gray(pixels: np.ndarray) -> bytes:
    """Progressive grayscale JPEG with SUCCESSIVE APPROXIMATION (T.81
    G.1.2.2/G.1.2.3), libjpeg's standard 6-scan script (SA_SCRIPT)."""
    script = [(kind, (0,), *rest) for kind, *rest in SA_SCRIPT]
    return _encode_progressive(*_gray_plane(pixels), script)


def encode_jpeg_progressive_color(rgb: np.ndarray) -> bytes:
    """Progressive (SOF2) 4:4:4 COLOR JPEG — libjpeg's standard 10-scan
    script (SA_SCRIPT_COLOR): interleaved 3-component DC scans,
    single-component AC band scans, successive approximation in both."""
    return _encode_progressive(*_ycc_planes(rgb, 1, 1), SA_SCRIPT_COLOR)


def encode_jpeg_progressive_420(rgb: np.ndarray) -> bytes:
    """Progressive 4:2:0 — what `cjpeg -progressive` emits for a web
    photo: SOF2 + chroma subsampling + interleaved-DC dummy blocks at
    MCU edges + per-component AC raster scans."""
    return _encode_progressive(*_ycc_planes(rgb, 2, 2), SA_SCRIPT_COLOR)


def encode_jpeg_progressive_422(rgb: np.ndarray) -> bytes:
    """Progressive 4:2:2 (broadcast layout)."""
    return _encode_progressive(*_ycc_planes(rgb, 2, 1), SA_SCRIPT_COLOR)


def encode_jpeg_progressive_411(rgb: np.ndarray) -> bytes:
    """Progressive 4:1:1 (DV layout)."""
    return _encode_progressive(*_ycc_planes(rgb, 4, 1), SA_SCRIPT_COLOR)


def _progressive_coefs(f: _Frame, grids: list[tuple[int, int]],
                       Zs: list[np.ndarray]) -> None:
    """Accumulate the zigzag coefficients of every scan of a progressive
    frame into Zs, all four scan kinds (first/refinement x DC/AC,
    successive approximation included, T.81 G.1.2). DC scans may be
    interleaved (Ns = nc) or single-component and walk _scan_order —
    interleaved ones through the MCU grid with its dummy blocks, decoded
    and discarded with their predictor updates (A.2.4). AC scans are
    single-component (B.2.3) over the component's raster grid. Raises
    ValueError for a malformed scan sequence: a refinement before its
    band's first scan, a bad Ah/Al pair or band, restart intervals (out
    of profile)."""
    if f.ri:
        raise ValueError("progressive restart intervals")
    band_seen = [np.zeros(64, dtype=bool) for _ in f.samps]
    for comps, tdtas, ss, se, ah, al, huff, data in f.scans:
        if ah != 0 and ah != al + 1:
            raise ValueError("malformed successive-approximation sequence")
        if not (ss == se == 0 and len(comps) in (1, len(f.samps))
                or 1 <= ss <= se <= 63 and len(comps) == 1):
            raise ValueError("bad scan band or component count")
        for c in comps:
            if ah == 0:
                band_seen[c][ss:se + 1] = True
            elif not band_seen[c][ss:se + 1].all():
                raise ValueError("refinement before any first scan")
        br = _BitReader(data)
        if ss == 0:
            Zc = [Zs[c] for c in comps]
            if ah == 0:                   # DC first scan (Al >= 0)
                dc_ts = [huff[t >> 4] for t in tdtas]
                prevs = [0] * len(comps)
                for ci, b in _scan_order(f, comps, grids):
                    s_ = br.symbol(dc_ts[ci])
                    if s_ > 15:
                        # no precision has such a category (F.1.2.1);
                        # it would overflow the int64 coefficients
                        raise ValueError("DC category above 15")
                    if s_:
                        prevs[ci] += _extend(br.read_bits(s_), s_)
                    Zc[ci][b, 0] = prevs[ci] << al
            else:                         # DC refinement: 1 raw bit
                for ci, b in _scan_order(f, comps, grids):
                    if br.read_bit():
                        Zc[ci][b, 0] |= 1 << al
            continue
        Z = Zs[comps[0]]
        nb = len(Z) - 1                   # the spare last row is no block
        ac_t = huff[0x10 | (tdtas[0] & 0x0F)]
        if ah == 0:                       # AC first scan (Al >= 0)
            eobrun = 0
            for b in range(nb):
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.symbol(ac_t)
                    r, s_ = rs >> 4, rs & 0x0F
                    if s_ == 0:
                        if r == 15:       # ZRL
                            k += 16
                            continue
                        # EOB with EOBRUN = 2^r + bits - 1 MORE blocks
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("band overrun")
                    Z[b, k] = _extend(br.read_bits(s_), s_) << al
                    k += 1
            continue
        p1, m1 = 1 << al, -(1 << al)      # AC refinement (Ah = Al+1)

        def _correct(b: int, k: int) -> None:
            # T.81 G.1.2.3: one correction bit per nonzero-history
            # coefficient; append p1 toward its sign when bit=1 and bit
            # Al not yet set
            if br.read_bit() and (int(Z[b, k]) & p1) == 0:
                Z[b, k] += p1 if Z[b, k] >= 0 else m1

        eobrun = 0
        for b in range(nb):
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = br.symbol(ac_t)
                    r, s_ = rs >> 4, rs & 0x0F
                    newval = 0
                    if s_:
                        if s_ != 1:
                            raise ValueError("bad refine size")
                        newval = p1 if br.read_bit() else m1
                    elif r != 15:         # EOB: run of ended blocks
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    # advance: corrections on nonzero history, r counts
                    # down over zero-history slots
                    while k <= se:
                        if Z[b, k] != 0:
                            _correct(b, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        Z[b, k] = newval
                    k += 1
            if eobrun > 0:
                # rest of this block (and whole following blocks) only
                # refine existing coefficients
                while k <= se:
                    if Z[b, k] != 0:
                        _correct(b, k)
                    k += 1
                eobrun -= 1


def decode_jpeg_progressive_gray(buf: bytes) -> np.ndarray | None:
    """Decode a progressive (SOF2) grayscale JPEG — spectral selection
    AND successive approximation — by multi-scan coefficient
    accumulation, then one batched dequant/IDCT. Returns None for
    baseline files and anything malformed (refinement before first
    scan, bad SA sequence)."""
    return _decode(buf, True, 1)


def decode_jpeg_progressive_color(buf: bytes) -> np.ndarray | None:
    """Decode a progressive (SOF2) COLOR JPEG at 4:4:4, 4:2:0, 4:2:2 or
    4:1:1 — the multi-component profile: interleaved DC scans (dummy
    blocks at MCU edges decoded-and-discarded per A.2.4), single-
    component AC band scans over each component's OWN raster block grid
    (B.2.3), successive approximation in both. Returns uint8 (h, w, 3)
    RGB or None."""
    return _decode(buf, True, 3)
