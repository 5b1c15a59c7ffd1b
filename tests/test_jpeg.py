"""Baseline grayscale JPEG codec (operators/jpeg): spec-conformance
evidence without a reference codec in the container — exact DC-only
reconstruction, bounded quantization error on smooth content, byte
stuffing, canonical-Huffman reconstruction from the FILE's DHT, marker
robustness, out-of-profile rejection. No JVM."""

from __future__ import annotations

import struct

import numpy as np

from cld2_spark.operators.jpeg import (QTABLE, ZIGZAG, decode_jpeg_gray,
                                       encode_jpeg_gray,
                                       gray_fixture_pixels,
                                       jpeg_gray_features)


def test_zigzag_is_the_spec_order():
    # spot-pin the generated walk against the published first/last rows
    assert ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[-4:].tolist() == [47, 55, 62, 63]
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_constant_blocks_reconstruct_exactly():
    """A constant image is DC-only with DC coefficient 8*(v-128) and
    quant step 16, so any EVEN level shift quantizes losslessly:
    decode(encode(x)) == x bit-for-bit. Odd shifts land within 1."""
    for v in (0, 2, 128, 200, 254):
        px = np.full((24, 16), v, dtype=np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_gray(px))
        assert dec is not None and (dec == px).all(), v
    for v in (1, 127, 255):
        px = np.full((24, 16), v, dtype=np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_gray(px))
        assert np.abs(dec.astype(int) - int(v)).max() <= 1, v


def test_roundtrip_error_bounded_on_smooth_content():
    worst = 0
    for i in range(60):
        px = gray_fixture_pixels(i)
        dec = decode_jpeg_gray(encode_jpeg_gray(px))
        assert dec is not None and dec.shape == px.shape, i
        worst = max(worst, int(np.abs(dec.astype(int)
                                      - px.astype(int)).max()))
    # measured 8 over the fixture family; 16 leaves quantization headroom
    assert worst <= 16, worst


def test_non_multiple_of_8_dims_crop_back():
    px = gray_fixture_pixels(4)  # dims intentionally not multiples of 8
    assert px.shape[0] % 8 != 0 or px.shape[1] % 8 != 0
    dec = decode_jpeg_gray(encode_jpeg_gray(px))
    assert dec.shape == px.shape


def test_byte_stuffing_roundtrip():
    """Find a fixture whose entropy stream contains a stuffed FF00 and
    prove it decodes (the unstuffing path is actually exercised)."""
    hit = False
    for i in range(200):
        px = gray_fixture_pixels(i)
        buf = encode_jpeg_gray(px)
        scan = buf[buf.find(b"\xff\xda"):]
        if b"\xff\x00" in scan:
            hit = True
            dec = decode_jpeg_gray(buf)
            assert dec is not None and dec.shape == px.shape
    assert hit, "no fixture exercised byte stuffing; widen the family"


def test_truncation_and_garbage_return_none_not_crash():
    full = encode_jpeg_gray(gray_fixture_pixels(3))
    for k in range(0, len(full), 3):
        decode_jpeg_gray(full[:k])  # must not raise
    assert decode_jpeg_gray(b"") is None
    assert decode_jpeg_gray(b"\xff\xd8") is None
    assert decode_jpeg_gray(b"not a jpeg at all") is None
    assert decode_jpeg_gray(b"\x89PNG\r\n\x1a\n") is None


def test_out_of_profile_rejected():
    full = bytearray(encode_jpeg_gray(gray_fixture_pixels(1)))
    # flip SOF0 -> SOF2 (progressive): must reject, not misdecode
    i = bytes(full).find(b"\xff\xc0")
    prog = bytes(full[:i]) + b"\xff\xc2" + bytes(full[i + 2:])
    assert decode_jpeg_gray(prog) is None
    # 3-component SOF: out of the grayscale profile
    j = i + 4
    color = bytearray(full)
    color[j + 5] = 3  # component count byte of SOF payload
    assert decode_jpeg_gray(bytes(color)) is None


def test_decoder_reads_tables_from_file_not_encoder_memory():
    """Re-order the DHT segments (AC before DC) — a decoder keyed off the
    file's table ids must still decode identically."""
    buf = encode_jpeg_gray(gray_fixture_pixels(9))
    segs = []
    i = 2
    while True:
        marker = buf[i:i + 2]
        (ln,) = struct.unpack_from(">H", buf, i + 2)
        segs.append((marker, buf[i:i + 2 + ln]))
        i += 2 + ln
        if marker == b"\xff\xda":
            tail = buf[i:]
            break
    dhts = [s for m, s in segs if m == b"\xff\xc4"]
    rest = [(m, s) for m, s in segs if m != b"\xff\xc4"]
    assert len(dhts) == 2
    reordered = (b"\xff\xd8"
                 + b"".join(s for m, s in rest if m != b"\xff\xda")
                 + dhts[1] + dhts[0]
                 + next(s for m, s in rest if m == b"\xff\xda") + tail)
    a = decode_jpeg_gray(buf)
    b = decode_jpeg_gray(reordered)
    assert b is not None and (a == b).all()


def test_feature_kernel_is_integer_exact():
    px = gray_fixture_pixels(11)
    w, h, s, ss, mn, mx, h0, h1, h2, h3 = jpeg_gray_features(px)
    v = px.astype(np.int64)
    assert (w, h) == (px.shape[1], px.shape[0])
    assert s == v.sum() and ss == (v * v).sum()
    assert mn == v.min() and mx == v.max()
    assert h0 + h1 + h2 + h3 == px.size


def test_quant_table_survives_the_file():
    """The DQT payload is zigzagged; a decoder must de-zigzag it. Check
    the table read back from the file equals QTABLE exactly by decoding
    a delta image whose single AC coefficient is sensitive to one cell."""
    px = np.zeros((8, 8), dtype=np.uint8)
    px[0, :] = 255  # strong vertical edge -> large low-frequency ACs
    dec = decode_jpeg_gray(encode_jpeg_gray(px))
    # independent reference: quantize/dequantize through QTABLE directly
    from cld2_spark.operators.jpeg import _DCT
    coef = _DCT @ (px.astype(np.float64) - 128.0) @ _DCT.T
    q = np.round(coef / QTABLE) * QTABLE
    ref = np.clip(np.round(_DCT.T @ q @ _DCT + 128.0), 0, 255).astype(np.uint8)
    assert (dec == ref).all()


def test_exact_dct_equals_the_plain_loop():
    """_fdct/_idct sum each 8-term product in ascending k from the k = 0
    product. CPython float arithmetic is one IEEE multiply and one add
    per term, so a plain loop in that order is an exact reference that
    no BLAS kernel enters. The sparse batch has coefficient rows and
    columns that are zero in every block, which the transform skips."""
    from cld2_spark.operators.jpeg import _DCT, _fdct, _idct

    def dot(a, b, i, j):
        acc = a[i][0] * b[0][j]
        for k in range(1, 8):      # not sum(): 3.12+ compensates floats
            acc += a[i][k] * b[k][j]
        return acc

    def loop(left, x, right):
        def mm(a, b):
            return [[dot(a, b, i, j) for j in range(8)] for i in range(8)]
        return [mm(mm(left.tolist(), b), right.tolist()) for b in x.tolist()]

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (6, 8, 8)) - 128.0
    px[0] = 1.0                     # a flat block: DC-only coefficients
    coefs = (rng.integers(-40, 40, (6, 8, 8)) * QTABLE).astype(np.float64)
    coefs[:, 3:, :] = 0
    coefs[:, :, 5:] = 0
    assert _fdct(px).tolist() == loop(_DCT, px, _DCT.T)
    assert _idct(coefs).tolist() == loop(_DCT.T, coefs, _DCT)


def test_color_roundtrip_error_bounded():
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_color)
    worst = 0
    for i in range(40):
        rgb = color_fixture_pixels(i)
        dec = decode_jpeg_color(encode_jpeg_color(rgb))
        assert dec is not None and dec.shape == rgb.shape, i
        worst = max(worst, int(np.abs(dec.astype(int)
                                      - rgb.astype(int)).max()))
    # measured 7 on the fixture family (smooth channels); 20 leaves
    # headroom for the coarse chroma quantization
    assert worst <= 20, worst


def test_color_gray_cross_profile_rejection():
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_color)
    color = encode_jpeg_color(color_fixture_pixels(5))
    gray = encode_jpeg_gray(gray_fixture_pixels(5))
    assert decode_jpeg_gray(color) is None
    assert decode_jpeg_color(gray) is None
    for k in range(0, len(color), 11):
        decode_jpeg_color(color[:k])  # must not raise
    assert decode_jpeg_color(b"garbage") is None


def test_color_uses_distinct_chroma_tables():
    """A saturated-chroma image must place energy in Cb/Cr blocks coded
    with the CHROMINANCE tables — decode only succeeds if the decoder
    selects per-component tables from the SOS header, not a global one."""
    from cld2_spark.operators.jpeg import (decode_jpeg_color,
                                           encode_jpeg_color, rgb_to_ycbcr)
    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    rgb[:, :8, 0] = 250   # red half -> strong Cr
    rgb[:, 8:, 2] = 250   # blue half -> strong Cb
    dec = decode_jpeg_color(encode_jpeg_color(rgb))
    assert dec is not None
    # chroma planes must survive with the right sign structure
    ycc_in = rgb_to_ycbcr(rgb)
    ycc_out = rgb_to_ycbcr(dec)
    assert np.sign(ycc_in[2, 2, 2] - 128) == np.sign(ycc_out[2, 2, 2] - 128)
    assert np.sign(ycc_in[2, 12, 1] - 128) == np.sign(ycc_out[2, 12, 1] - 128)


def test_420_roundtrip_error_bounded_and_444_unchanged():
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_420,
                                           encode_jpeg_color)
    worst = 0
    for i in range(40):
        rgb = color_fixture_pixels(i)
        dec = decode_jpeg_color(encode_jpeg_420(rgb))
        assert dec is not None and dec.shape == rgb.shape, i
        worst = max(worst, int(np.abs(dec.astype(int)
                                      - rgb.astype(int)).max()))
    # measured 12: quant + box-downsample + replicate-upsample; 32 is
    # the headroom bound for the fixture slope family
    assert worst <= 32, worst
    # the generalized MCU walk must not change 4:4:4 decoding
    rgb = color_fixture_pixels(7)
    d = decode_jpeg_color(encode_jpeg_color(rgb))
    assert np.abs(d.astype(int) - rgb.astype(int)).max() <= 20


def test_cross_layout_and_truncation_safe():
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_420)
    buf = bytearray(encode_jpeg_420(color_fixture_pixels(2)))
    i = bytes(buf).find(b"\xff\xc0")
    assert buf[i + 4 + 6 + 1] == 0x22
    # a mismatched SOF sampling over a 4:2:0 entropy stream (geometry
    # mismatch) must fail safe (None) or decode-to-garbage without
    # crashing, never raise — for every whitelisted layout byte
    for samp in (0x41, 0x21, 0x11):
        mut = bytearray(buf)
        mut[i + 4 + 6 + 1] = samp
        decode_jpeg_color(bytes(mut))
    # out-of-profile sampling (e.g. 2x4) is rejected, not misdecoded
    mut = bytearray(buf)
    mut[i + 4 + 6 + 1] = 0x24
    assert decode_jpeg_color(bytes(mut)) is None
    for k in range(0, len(buf), 13):
        decode_jpeg_color(bytes(buf[:k]))  # no crash on truncations


def test_411_roundtrip_error_bounded():
    """4:1:1 (Y 4x1 — the DV layout): full-res luma, 4x horizontal
    chroma. Smooth fixtures: luma error stays JPEG-small, chroma error
    bounded by the box filter."""
    import numpy as np
    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_411,
                                           rgb_to_ycbcr)
    for i in (0, 3, 11, 40):
        px = color_fixture_pixels(i)
        out = decode_jpeg_color(encode_jpeg_411(px))
        assert out is not None and out.shape == px.shape
        ydiff = np.abs(rgb_to_ycbcr(out)[:, :, 0]
                       - rgb_to_ycbcr(px)[:, :, 0])
        assert ydiff.max() < 8.0
        assert np.abs(out.astype(int) - px.astype(int)).mean() < 4.0


def test_422_roundtrip_error_bounded():
    import numpy as np

    from cld2_spark.operators.jpeg import (color_fixture_pixels,
                                           decode_jpeg_color,
                                           encode_jpeg_422)
    for mid in (0, 3, 7, 12):
        px = color_fixture_pixels(mid)
        out = decode_jpeg_color(encode_jpeg_422(px))
        assert out is not None and out.shape == px.shape
        err = np.abs(out.astype(np.int64) - px.astype(np.int64))
        assert float(err.mean()) < 4.0 and int(err.max()) < 48, mid


def test_codec_survives_random_noise_images():
    """Noise maximizes nonzero high-frequency ACs (dense run/size
    symbols, ZRL chains, long entropy streams): the codec must stay
    crash-free, shape-correct, and deterministic. (No drift bound on
    noise: the chroma table's 99-step cells legitimately move noise
    pixels a lot per trip — worst-case IDCT drift is sum(Q)/16 per
    plane, ~350; bounded-error guarantees live in the smooth-content
    tests above.)"""
    from cld2_spark.operators.jpeg import (decode_jpeg_color,
                                           encode_jpeg_420,
                                           encode_jpeg_color)
    rng = np.random.default_rng(7)
    for trial in range(6):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 40))
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for enc in (encode_jpeg_color, encode_jpeg_420):
            buf = enc(rgb)
            assert buf == enc(rgb)                 # deterministic encode
            dec = decode_jpeg_color(buf)
            assert dec is not None and dec.shape == rgb.shape
            dec2 = decode_jpeg_color(enc(dec))  # re-encode: no crash
            assert dec2 is not None and dec2.shape == rgb.shape
    # grayscale noise too
    from cld2_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray
    g = rng.integers(0, 256, size=(33, 17), dtype=np.uint8)
    dg = decode_jpeg_gray(encode_jpeg_gray(g))
    assert dg is not None and dg.shape == g.shape


def test_progressive_equals_baseline_roundtrip():
    """SOF2 spectral-selection progressive (3 scans: DC, AC 1-5, AC 6-63,
    EOBRUN) reorganizes the SAME quantized coefficients, so decode must
    EQUAL the baseline round trip pixel-for-pixel; cross-profile files
    are rejected by the wrong decoder, and truncations never crash."""
    import numpy as np

    from cld2_spark.operators.jpeg import (decode_jpeg_gray,
                                           decode_jpeg_progressive_gray,
                                           encode_jpeg_gray,
                                           encode_jpeg_progressive_gray,
                                           gray_fixture_pixels)
    rng = np.random.RandomState(5)
    images = [gray_fixture_pixels(m) for m in (0, 4, 9, 13)]
    images += [rng.randint(0, 256, (rng.randint(8, 40), rng.randint(8, 40)),
                           dtype=np.uint8) for _ in range(3)]
    for px in images:
        prog = encode_jpeg_progressive_gray(px)
        out = decode_jpeg_progressive_gray(prog)
        base = decode_jpeg_gray(encode_jpeg_gray(px))
        assert out is not None and np.array_equal(out, base)
        assert decode_jpeg_gray(prog) is None
        assert decode_jpeg_progressive_gray(encode_jpeg_gray(px)) is None
    buf = encode_jpeg_progressive_gray(images[0])
    for k in range(0, len(buf), 11):
        decode_jpeg_progressive_gray(buf[:k])
    # a refinement scan with no preceding first scan is malformed:
    # rejected, not misdecoded (well-formed SA files ARE decoded — see
    # test_successive_approximation_equals_baseline)
    i = buf.find(b"\xff\xda")
    mut = bytearray(buf)
    mut[i + 4 + 5] = 0x10        # Ah=1 on the very first scan
    assert decode_jpeg_progressive_gray(bytes(mut)) is None


def test_successive_approximation_equals_baseline():
    """SA progressive (libjpeg 6-scan script: point-transformed first
    scans + correction-bit refinements) carries the SAME quantized
    coefficients as baseline — decode must match bitwise, including the
    ZRL-with-buffered-correction-bits path (>=16 zero-history gaps
    between newly-nonzero coefficients, T.81 G.1.2.3)."""
    import numpy as np
    from cld2_spark.operators.jpeg import (
        decode_jpeg_gray, decode_jpeg_progressive_gray, encode_jpeg_gray,
        encode_jpeg_progressive_sa_gray, gray_fixture_pixels)
    rng = np.random.default_rng(7)
    for _ in range(40):
        h, w = rng.integers(8, 48, 2)
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        base = decode_jpeg_gray(encode_jpeg_gray(px))
        sa = decode_jpeg_progressive_gray(
            encode_jpeg_progressive_sa_gray(px))
        assert sa is not None and np.array_equal(sa, base)
    for i in (0, 1, 17, 255):
        px = gray_fixture_pixels(i)
        assert np.array_equal(
            decode_jpeg_progressive_gray(encode_jpeg_progressive_sa_gray(px)),
            decode_jpeg_gray(encode_jpeg_gray(px)))


def test_successive_approximation_garbage_safe():
    """Truncated / bit-flipped SA files must return None or a valid
    array, never raise — the mapInPandas batch must survive bad rows."""
    import numpy as np
    from cld2_spark.operators.jpeg import (
        decode_jpeg_progressive_gray, encode_jpeg_progressive_sa_gray,
        gray_fixture_pixels)
    buf = encode_jpeg_progressive_sa_gray(gray_fixture_pixels(3))
    rng = np.random.default_rng(11)
    for cut in (10, len(buf) // 3, len(buf) - 5):
        out = decode_jpeg_progressive_gray(buf[:cut])
        assert out is None or isinstance(out, np.ndarray)
    for _ in range(30):
        bad = bytearray(buf)
        for _ in range(3):
            bad[rng.integers(2, len(bad) - 2)] = rng.integers(0, 256)
        out = decode_jpeg_progressive_gray(bytes(bad))
        assert out is None or isinstance(out, np.ndarray)


def test_restart_markers_roundtrip_gray_and_color():
    """DRI/RSTn support: restart files decode IDENTICALLY to their
    no-restart twins (same coefficients, predictors reset per segment);
    a missing RST marker (segment-count mismatch) is rejected."""
    import re

    import numpy as np
    from cld2_spark.operators.jpeg import (decode_jpeg_color,
                                           decode_jpeg_gray,
                                           encode_jpeg_color,
                                           encode_jpeg_gray)
    rng = np.random.default_rng(13)
    for ri in (1, 3, 7):
        px = rng.integers(0, 256, (27, 35)).astype(np.uint8)
        plain = decode_jpeg_gray(encode_jpeg_gray(px))
        buf = encode_jpeg_gray(px, restart_interval=ri)
        assert b"\xff\xdd" in buf
        assert np.array_equal(decode_jpeg_gray(buf), plain)
        rgb = rng.integers(0, 256, (19, 26, 3)).astype(np.uint8)
        cplain = decode_jpeg_color(encode_jpeg_color(rgb))
        cbuf = encode_jpeg_color(rgb, restart_interval=ri)
        assert np.array_equal(decode_jpeg_color(cbuf), cplain)
    buf = encode_jpeg_gray(np.zeros((24, 24), np.uint8), restart_interval=2)
    n_mcus, ri = 9, 2
    assert len(re.findall(b"\xff[\xd0-\xd7]", buf)) == -(-n_mcus // ri) - 1
    assert decode_jpeg_gray(re.sub(b"\xff\xd0", b"", buf, count=1)) is None


def test_multicomponent_progressive_color_equals_baseline():
    """Progressive 4:4:4 color (libjpeg 10-scan script: interleaved DC
    scans, single-component AC band scans per B.2.3, SA refinement in
    both) carries the same quantized coefficients as baseline color —
    decode must match bitwise. Cross-profile files are rejected by the
    wrong decoder; truncation/bit-flips never crash."""
    import numpy as np
    from cld2_spark.operators.jpeg import (
        color_fixture_pixels, decode_jpeg_color,
        decode_jpeg_progressive_color, decode_jpeg_progressive_gray,
        encode_jpeg_color, encode_jpeg_progressive_color)
    rng = np.random.default_rng(17)
    for _ in range(25):
        h, w = rng.integers(8, 40, 2)
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        base = decode_jpeg_color(encode_jpeg_color(rgb))
        prog = decode_jpeg_progressive_color(
            encode_jpeg_progressive_color(rgb))
        assert prog is not None and np.array_equal(prog, base)
    px = color_fixture_pixels(6)
    buf = encode_jpeg_progressive_color(px)
    # cross-profile rejections
    assert decode_jpeg_color(buf) is None
    assert decode_jpeg_progressive_gray(buf) is None
    assert decode_jpeg_progressive_color(encode_jpeg_color(px)) is None
    # robustness
    for cut in (8, len(buf) // 2, len(buf) - 3):
        out = decode_jpeg_progressive_color(buf[:cut])
        assert out is None or isinstance(out, np.ndarray)
    for _ in range(25):
        bad = bytearray(buf)
        for _ in range(3):
            bad[rng.integers(2, len(bad) - 2)] = rng.integers(0, 256)
        out = decode_jpeg_progressive_color(bytes(bad))
        assert out is None or isinstance(out, np.ndarray)


def test_subsampled_progressive_equals_subsampled_baseline():
    """Progressive 4:2:0/4:2:2/4:1:1 (SOF2 + chroma subsampling): the
    interleaved DC scans walk the MCU grid with DUMMY blocks at edges
    (coded, discarded, predictor updated — T.81 A.2.4) while AC scans
    walk each component's own raster grid. Same coefficients as the
    baseline subsampled encoders (same MCU-padded downsample), so
    decode must equal baseline decode bitwise — odd dims included."""
    import numpy as np
    from cld2_spark.operators.jpeg import (
        color_fixture_pixels, decode_jpeg_color,
        decode_jpeg_progressive_color, encode_jpeg_411, encode_jpeg_420,
        encode_jpeg_422, encode_jpeg_progressive_411,
        encode_jpeg_progressive_420, encode_jpeg_progressive_422)
    pairs = [(encode_jpeg_progressive_420, encode_jpeg_420),
             (encode_jpeg_progressive_422, encode_jpeg_422),
             (encode_jpeg_progressive_411, encode_jpeg_411)]
    rng = np.random.default_rng(29)
    for pe, be in pairs:
        for i in (0, 7, 23):
            px = color_fixture_pixels(i)
            assert np.array_equal(
                decode_jpeg_progressive_color(pe(px)),
                decode_jpeg_color(be(px)))
        for _ in range(8):
            h, w = rng.integers(9, 55, 2)   # odd dims: dummy blocks live
            rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            assert np.array_equal(
                decode_jpeg_progressive_color(pe(rgb)),
                decode_jpeg_color(be(rgb))), (pe.__name__, h, w)
