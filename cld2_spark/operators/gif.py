"""REAL GIF pixel decode — LZW, palettes, interlace — pure Python/stdlib.

Completes the image-codec chapter (reference scope: the multimodal
column mandate; PNG pixels, baseline+progressive JPEG and MJPEG-in-MP4
already have real decode paths in operators/multimodal.py / jpeg.py —
GIF was header-only until now). Both directions are real and
independent: `encode_gif_fixture` writes a conformant GIF89a (global
color table, optional graphic-control extension, optional interlace,
variable-width LSB-first LZW with clear/EOI codes, 255-byte sub-block
framing), and `decode_gif_pixels` is a GENERAL decoder (87a/89a, local
color tables, extension skipping, interlace reorder, the code==next
LZW special case, 12-bit table cap with deferred-clear behavior) that
never assumes the fixture's layout.

The driver query's oracle is LIVE id-arithmetic (DuckDB replays the
pixel rule below and the feature sums directly), so a hash match proves
the whole encode -> LZW -> parse -> de-interlace -> palette -> feature
chain end to end, with no trust placed in either codec direction.

Spec facts used (public: GIF89a specification, 1990): logical screen
descriptor layout, image descriptor flags (bit 6 = interlace, bit 7 =
local color table), interlace pass structure (rows 0/8, 4/8, 2/4, 1/2),
LZW minimum code size byte, LSB-first bit packing, decoder width growth
at next_code == 2^width (encoder one step later), 4096-entry cap.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from cld2_spark.operators.multimodal import _media_stage

PALETTE_SIZE = 16
GIF_MAX_CODE = 4096
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_palette() -> np.ndarray:
    """The fixture's deterministic 16-entry RGB palette (also replayed
    by the DuckDB oracle as plain arithmetic)."""
    i = np.arange(PALETTE_SIZE, dtype=np.int64)
    return np.stack([i * 16, (i * 37) % 256, 255 - i * 16],
                    axis=1).astype(np.uint8)


def gif_fixture_dims(seed: int) -> tuple[int, int]:
    return 8 + (seed % 5) * 4, 8 + (seed % 3) * 4


def gif_fixture_indices(seed: int) -> np.ndarray:
    """Deterministic (h, w) palette-index image: (x*3 + y*7 + seed) % 16."""
    w, h = gif_fixture_dims(seed)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return ((x * 3 + y * 7 + seed) % PALETTE_SIZE).astype(np.uint8)


# ------------------------------------------------------------------ LZW ----

def lzw_encode(data: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: variable code width starting at mcs+1, clear
    code first, EOI last, LSB-first bit packing. Width grows one step
    AFTER the decoder's (next_code == 2^width + 1) so the two stay in
    lockstep; at the 4096 cap a clear code resets the table."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = mcs + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    emit(clear, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == GIF_MAX_CODE + 1:
            emit(clear, width)
            table = {bytes([i]): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
        cur = nxt[-1:]
    if cur:
        emit(table[cur], width)
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes, mcs: int) -> bytes:
    """General GIF LZW decoder: clear codes anywhere, the code ==
    next_code special case (cur = prev + prev[0]), width growth at
    next_code == 2^width, deferred behavior at the 4096 cap."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int | None:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out = bytearray()
    width = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << mcs)]
    table += [b"", b""]                       # clear, eoi placeholders
    prev: bytes | None = None
    while True:
        code = read(width)
        if code is None or code == eoi:
            break
        if code == clear:
            table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and len(table) < GIF_MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


# ----------------------------------------------------------- container ----

def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _interlace_order(h: int) -> list[int]:
    rows: list[int] = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return rows


def encode_gif_fixture(seed: int) -> bytes:
    """Well-formed GIF89a for `seed`: deterministic indexed pixels, the
    16-entry global color table, interlaced for odd seeds, a graphic-
    control extension for seed % 3 == 0 (exercises extension skipping),
    real LZW image data."""
    w, h = gif_fixture_dims(seed)
    idx = gif_fixture_indices(seed)
    interlaced = seed % 2 == 1
    rows = idx[_interlace_order(h)] if interlaced else idx
    mcs = 4                                            # 16-color table
    buf = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 4 bits/entry
    buf += struct.pack("<HHBBB", w, h, 0x80 | 0x03, 0, 0)
    buf += gif_palette().tobytes()
    if seed % 3 == 0:
        buf += b"\x21\xf9\x04\x00\x00\x00\x00\x00"     # GCE, no-op
    flags = 0x40 if interlaced else 0
    buf += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)
    buf.append(mcs)
    buf += _sub_blocks(lzw_encode(rows.tobytes(), mcs))
    buf += b"\x3b"
    return bytes(buf)


def decode_gif_pixels(buf: bytes) -> np.ndarray | None:
    """Decode the FIRST image of any conformant GIF to (h, w, 3) uint8.

    General: 87a/89a, global and local color tables, any extension
    blocks, interlace, any LZW stream the spec allows. Returns None for
    anything unparseable."""
    try:
        if len(buf) < 13 or buf[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(buf[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        while pos < len(buf):
            b0 = buf[pos]
            if b0 == 0x3B:                             # trailer
                return None
            if b0 == 0x21:                             # extension: skip
                pos += 2
                while pos < len(buf) and buf[pos] != 0:
                    pos += 1 + buf[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", buf, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(buf[pos:pos + 3 * n],
                                   dtype=np.uint8).reshape(n, 3)
                pos += 3 * n
            if ct is None or w == 0 or h == 0:
                return None
            mcs = buf[pos]
            pos += 1
            payload = bytearray()
            while pos < len(buf) and buf[pos] != 0:
                ln = buf[pos]
                payload += buf[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            idx = np.frombuffer(lzw_decode(bytes(payload), mcs),
                                dtype=np.uint8)[:w * h]
            if idx.size < w * h or int(idx.max(initial=0)) >= len(ct):
                return None
            img = idx.reshape(h, w)
            if iflags & 0x40:
                out = np.empty_like(img)
                out[_interlace_order(h)] = img
                img = out
            return ct[img]
    except Exception:
        return None
    return None


# ------------------------------------------------------------- features ----

def _gif_row(buf: bytes) -> tuple[int, ...] | None:
    """(width, height, sum_r, sum_g, sum_b, wsum_r) of a GIF's decoded
    first image, or None when it does not decode. wsum_r weights each
    red value by its raster position (order sensitive, so a de-interlace
    bug cannot cancel out in the sums)."""
    px = decode_gif_pixels(buf)
    if px is None:
        return None
    h, w = px.shape[:2]
    chan = px.astype(np.int64)
    posw = np.arange(h * w, dtype=np.int64)
    return (w, h, int(chan[..., 0].sum()), int(chan[..., 1].sum()),
            int(chan[..., 2].sum()),
            int((chan[..., 0].reshape(-1) * posw).sum()))


def gif_frame_features(media: DataFrame, id_col: str = "media_id",
                       payload_col: str = "payload") -> DataFrame:
    """Integer-exact per-image features over REAL GIF decode (_gif_row).
    One mapInPandas stage; a NULL payload is dropped like any other
    undecodable one. Per-row Python is inherent to LZW's serial bit
    stream (same disclosure as the JPEG entropy scan)."""
    return _media_stage(media, _gif_row, [
        id_col, "width", "height", "sum_r", "sum_g", "sum_b", "wsum_r"],
        id_col, payload_col)


def gif_features_oracle_sql(table: str = "documents",
                            id_col: str = "doc_id") -> str:
    """LIVE id-arithmetic DuckDB oracle: replays the pixel rule and the
    palette directly — no codec anywhere — so a hash match proves the
    full encode -> LZW -> decode -> de-interlace -> palette chain."""
    return f"""
WITH gf_sz AS (
  SELECT {id_col} AS media_id,
    8 + ({id_col} % 5) * 4 AS w, 8 + ({id_col} % 3) * 4 AS h
  FROM {table}),
gf_px AS (
  SELECT media_id, w, h, p AS pos, (p % w) AS xi, (p // w) AS yi,
    ((p % w) * 3 + (p // w) * 7 + media_id) % 16 AS idx
  FROM (SELECT media_id, w, h,
        unnest(generate_series(0, w * h - 1)) AS p FROM gf_sz))
SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(SUM(idx * 16) AS BIGINT) AS sum_r,
  CAST(SUM((idx * 37) % 256) AS BIGINT) AS sum_g,
  CAST(SUM(255 - idx * 16) AS BIGINT) AS sum_b,
  CAST(SUM(pos * idx * 16) AS BIGINT) AS wsum_r
FROM gf_px GROUP BY media_id, w, h"""
