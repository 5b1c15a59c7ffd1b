"""Property-based robustness tests (hypothesis) for the detection kernels.

The reference has no randomized testing (SURVEY.md §5); these guard the
vectorized kernels against the crash classes handwritten cases miss:
arbitrary unicode, surrogate-free astral chars, pathological whitespace,
batch-composition effects.
"""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from cld2_spark.kernels.analyze import analyze_batch
from cld2_spark.kernels.detect import detect_batch

texts_st = st.lists(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFFF),
            max_size=300),
    min_size=0, max_size=24)


@settings(max_examples=60, deadline=None)
@given(texts_st)
def test_detect_never_crashes_and_is_well_formed(texts):
    res = detect_batch(texts)
    n = len(texts)
    assert len(res["lang1"]) == n
    if n == 0:
        return
    p1, p2, p3 = res["pct1"], res["pct2"], res["pct3"]
    assert (p1 >= 0).all() and (p1 <= 100).all()
    assert ((p1 + p2 + p3) <= 100).all()
    # pct1..3 follow the sorted language3/percent3 contract; the demoted
    # summary answer lives in summary_lang/summary_pct
    assert (p1 >= p2).all() and (p2 >= p3).all()
    assert (res["rel1"] >= 0).all() and (res["rel1"] <= 100).all()
    assert (res["text_bytes"] >= 0).all()
    assert (res["summary_pct"] >= 0).all() and (res["summary_pct"] <= 100).all()


FR = ("Le gouvernement a annoncé mardi une série de mesures destinées à "
      "soutenir les entreprises touchées par la crise, notamment un report "
      "des charges sociales et un prêt garanti par l'État pour les petites "
      "et moyennes entreprises. ")
EN = ("The committee met on Tuesday to discuss the annual budget and agreed "
      "to postpone the final vote until the next session of parliament. ")


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0xFFFF),
               max_size=200),
       st.integers(min_value=0, max_value=10))
# a >2 KB row whose squeeze-trigger verdict hangs on the leading space of
# its letter stream: it must get that space after a >2 KB neighbour too
@example(text="ab " * 45 + (FR + EN) * 6, pad=1)
def test_batch_position_independence(text, pad):
    """A text's verdict must not depend on its batch neighbors (the core
    requirement for deterministic distributed execution), whether or not
    a neighbour is long enough for the squeeze trigger."""
    filler = ["lorem ipsum " * 200] + ["hello world example text"] * pad
    i = len(filler)
    for fn in (detect_batch, analyze_batch):
        alone = fn([text])
        batched = fn(filler + [text] + filler)
        for k in ("lang1", "summary_lang", "pct1", "rel1", "is_reliable"):
            assert alone[k][0] == batched[k][i], (fn.__name__, k)


@settings(max_examples=20, deadline=None)
@given(texts_st)
def test_analyze_matches_detect_fields(texts):
    """analyze_batch (shared-normalization fast path) must agree with
    detect_batch on every langid field."""
    a = analyze_batch(texts)
    d = detect_batch(texts)
    assert list(a["lang1"]) == list(d["lang1"])
    assert np.array_equal(a["pct1"], d["pct1"])
    assert np.array_equal(a["is_reliable"], d["is_reliable"])


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400))
def test_html_mode_never_crashes(text):
    """is_plain_text=False must survive arbitrary text: hostile entities
    (incl. surrogate &#xD800;), unterminated tags, mixed scripts."""
    res = detect_batch([text + " &#xD800; &#x110000; <b", "<p>&amp;</p>"],
                       is_plain_text=False)
    assert len(res["lang1"]) == 2


@settings(max_examples=25, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300),
       st.integers(min_value=0, max_value=200))
def test_squeeze_kernel_never_crashes(text, pad):
    from cld2_spark.kernels.squeeze import cheap_squeeze, squeeze_trigger_test
    t = text + " ab " * pad
    squeeze_trigger_test(t.encode("utf-8"))
    out = cheap_squeeze(t)
    assert isinstance(out, str)
    out.encode("utf-8")  # always valid text


# ---- binary-parser robustness (round 6): arbitrary bytes must never
# crash or hang the container/codec walkers -- they return None/empty.

bytes_st = st.binary(min_size=0, max_size=400)


@settings(max_examples=150, deadline=None)
@given(bytes_st)
def test_mp4_walkers_never_crash_on_arbitrary_bytes(buf):
    from cld2_spark.operators.multimodal import (mjpeg_video_features,
                                                 mp4_sample_table,
                                                 parse_mp4_meta)
    parse_mp4_meta(buf)
    st_ = mp4_sample_table(buf)
    assert st_ is None or isinstance(st_, list)
    mjpeg_video_features(buf)


@settings(max_examples=150, deadline=None)
@given(bytes_st)
def test_jpeg_decoders_never_crash_on_arbitrary_bytes(buf):
    from cld2_spark.operators.jpeg import (decode_jpeg_color,
                                           decode_jpeg_gray,
                                           decode_jpeg_progressive_color,
                                           decode_jpeg_progressive_gray)
    for fn in (decode_jpeg_gray, decode_jpeg_color,
               decode_jpeg_progressive_gray, decode_jpeg_progressive_color):
        out = fn(buf)
        assert out is None or out.dtype == np.uint8


def _real_jpegs():
    """One real file per decoder profile: baseline gray with restart
    intervals, baseline 4:2:0, progressive successive-approximation gray
    and progressive 4:2:0."""
    from cld2_spark.operators import jpeg as J
    gray, rgb = J.gray_fixture_pixels(3), J.color_fixture_pixels(7)
    return (J.encode_jpeg_gray(gray, restart_interval=2),
            J.encode_jpeg_420(rgb),
            J.encode_jpeg_progressive_sa_gray(gray),
            J.encode_jpeg_progressive_420(rgb))


@settings(max_examples=150, deadline=None)
@given(bytes_st, st.integers(min_value=0, max_value=4096))
def test_spliced_real_jpegs_never_crash(buf, at):
    """Splice arbitrary bytes INTO real JPEGs (valid SOI, so the marker
    parser runs on corrupt headers, tables and entropy data) — every
    decoder must return None or a uint8 image."""
    from cld2_spark.operators.jpeg import (decode_jpeg_color,
                                           decode_jpeg_gray,
                                           decode_jpeg_progressive_color,
                                           decode_jpeg_progressive_gray)
    for real in _real_jpegs():
        base = bytearray(real)
        off = 2 + at % (len(base) - 2)
        base[off:off + len(buf)] = buf
        for fn in (decode_jpeg_gray, decode_jpeg_color,
                   decode_jpeg_progressive_gray,
                   decode_jpeg_progressive_color):
            out = fn(bytes(base))
            assert out is None or out.dtype == np.uint8


@settings(max_examples=100, deadline=None)
@given(bytes_st)
def test_mutated_real_mp4_never_crashes(buf):
    """Splice arbitrary bytes INTO a real MJPEG MP4 (valid outer boxes,
    corrupt interior) — the sample-table resolver and frame decoder must
    fail safe."""
    from cld2_spark.operators.multimodal import (encode_mjpeg_mp4_fixture,
                                                 mjpeg_video_features)
    base = bytearray(encode_mjpeg_mp4_fixture(1, 2))
    if buf:
        off = (len(buf) * 7919) % max(len(base) - len(buf), 1)
        base[off:off + len(buf)] = buf
    mjpeg_video_features(bytes(base))


@given(st.lists(st.tuples(st.text(alphabet="abcdef", min_size=1,
                                  max_size=8),
                          st.integers(min_value=1, max_value=50)),
                min_size=1, max_size=12),
       st.integers(min_value=0, max_value=10))
@settings(max_examples=60, deadline=None)
def test_wordpiece_train_encode_invariants(word_counts, n_merges):
    """WordPiece invariants on arbitrary histograms: training never
    crashes; every trained word round-trips through greedy encode with
    no [UNK] (its characters are all in the alphabet) and the pieces
    reassemble the word exactly; unseen characters yield [UNK]."""
    from cld2_spark.operators.tokenizer import (WP_UNK, encode_word_wordpiece,
                                                learn_wordpiece)
    # dedupe words (histogram semantics)
    hist = list({w: c for w, c in word_counts}.items())
    merged, vocab = learn_wordpiece(hist, n_merges)
    assert len(merged) <= n_merges
    for w, _ in hist:
        pieces = encode_word_wordpiece(w, vocab)
        assert WP_UNK not in pieces, (w, pieces)
        assert "".join(p[2:] if p.startswith("##") else p
                       for p in pieces) == w
        assert all((i == 0) != p.startswith("##")
                   for i, p in enumerate(pieces))
    assert encode_word_wordpiece("zzz", vocab) == [WP_UNK]
