"""Gram-stream reuse: the O6 retry and analyze's bestEffort rescue score a
row selection of pass 1's GramStream instead of re-normalizing, re-gramming
and re-hashing their rows.

The reuse must be EXACTLY behavior-preserving: rows are space-delimited in
every batch stream and all grams, hashes and filters (repeat, predicted,
word keep) are within-row, so `GramStream.build(nb).select(rows)` carries
the same quads, words, scripts, relative positions and backoff keys as the
stream built from `T.subset_norm_batch(nb, rows)`. These tests assert that
directly, and assert bit-equality of every detect output key between the
selecting retry and one that builds every retried stream afresh.
"""

import json
from pathlib import Path

import numpy as np
import pytest

import cld2_spark.kernels.detect as D
from cld2_spark.kernels import text as T
from cld2_spark.kernels.detect import GramStream
from cld2_spark.kernels.model import default_model

DATA = Path(__file__).parent / "data"

NB_FIELDS = ("cp", "rid", "u8len", "script", "letter", "lower",
             "text_bytes", "has_replacement")
PER_GRAM = ("g_rid", "h", "gb", "tri3", "w_rid", "wh40", "pair40")


def _row_starts(s: GramStream) -> np.ndarray:
    """Per row of s.nb: where its characters start in the character
    arrays s.pos / s.wpos address (a selection addresses its built
    stream's; a batch's leading space belongs to its row 0)."""
    if s.rows is None:
        return np.searchsorted(s.rid_s, np.arange(s.nb.n))
    return np.searchsorted(s.rid_s, s.rows)


def _assert_same_stream(a: GramStream, b: GramStream, what=""):
    """`a` scores exactly like `b`, a stream built from scratch on the same
    rows: equal NormBatch, script sets and per-quad / per-word arrays, and
    every quad and word at the same place in its row, on the same
    characters, scripts and backoff key."""
    assert a.nb.n == b.nb.n
    for g in NB_FIELDS:
        np.testing.assert_array_equal(getattr(a.nb, g), getattr(b.nb, g),
                                      err_msg=f"{what} nb.{g}")
    np.testing.assert_array_equal(a.present, b.present, err_msg=what)
    assert a.many == b.many, what
    for f in PER_GRAM:
        x, y = getattr(a, f), getattr(b, f)
        np.testing.assert_array_equal(x, y, err_msg=f"{what} {f}")
        if len(x):  # empty arrays may differ only in dtype
            assert x.dtype == y.dtype, f"{what} {f}"
    sa, sb = _row_starts(a), _row_starts(b)
    if a.rows is not None and len(a.rows) and a.rows[0] != 0:
        sb[0] += 1  # b's row 0 owns a fresh leading space before its text
    for pos, rid in (("pos", "g_rid"), ("wpos", "w_rid")):
        pa, pb = getattr(a, pos), getattr(b, pos)
        ra, rb = getattr(a, rid), getattr(b, rid)
        np.testing.assert_array_equal(pa - sa[ra], pb - sb[rb],
                                      err_msg=f"{what} {pos} in row")
        for arr in ("arr", "scr_s"):
            np.testing.assert_array_equal(getattr(a, arr)[pa],
                                          getattr(b, arr)[pb],
                                          err_msg=f"{what} {arr}[{pos}]")
    np.testing.assert_array_equal(a.buf[a.bs], b.buf[b.bs],
                                  err_msg=f"{what} buf[bs]")
    every = np.arange(len(a.g_rid))
    np.testing.assert_array_equal(a.backoff_hash(every), b.backoff_hash(every),
                                  err_msg=f"{what} backoff hash")


def _check_selections(texts, model, n_subsets=30, seed=0, **kw):
    """Random ascending row subsets (row 0 dropped in some), plus the
    all-rows and each-row-alone selections."""
    nb = T.normalize_batch(texts)
    full = GramStream.build(nb, model, **kw)
    rng = np.random.RandomState(seed)
    subsets = [np.arange(len(texts))] + [np.array([i]) for i in range(len(texts))]
    for _ in range(n_subsets):
        k = rng.randint(1, len(texts) + 1)
        subsets.append(np.sort(rng.choice(len(texts), size=k, replace=False)))
    subsets.append(np.arange(1, len(texts)))
    assert any(r[0] != 0 for r in subsets)
    for rows in subsets:
        _assert_same_stream(
            full.select(rows),
            GramStream.build(T.subset_norm_batch(nb, rows), model, **kw),
            what=str(rows.tolist()))


MIXED = ["Hello world, this is plain English text.", "",
         "Ελληνικά κείμενο εδώ και εκεί", "привет мир как дела",
         "  leading spaces then words", "数据 mixed текст and Ωμέγα",
         "これは日本語のテキストです", "ภาษาไทยเป็นภาษาที่สวยงาม",
         "Ceci est une phrase en français.", "  ", "x",
         "Dies ist ein ganz normaler deutscher Satz. " * 6,
         "한국어 텍스트 and latin", "1234 !!! ???", "ქართული ენა"]


@pytest.mark.parametrize("score_as_quads", [False, True])
def test_select_equals_build_on_mixed_scripts(score_as_quads):
    """Latin+Greek+Cyrillic, CJK, RTypeOne (Thai, Hangul, Georgian) and
    empty / letterless rows; with scoreAsQuads the RTypeOne scripts join
    the stream."""
    _check_selections(MIXED, default_model(), score_as_quads=score_as_quads)


def test_select_equals_build_without_a_stream_script():
    """Selections whose rows have no quad-scored letters at all."""
    _check_selections(["数据", "", "これは日本語", "hello there", "ภาษาไทย"],
                      default_model(), seed=1)


def _fresh_detect(texts, model, monkeypatch, **kw):
    """detect_batch with every retried stream built from scratch."""
    score_as_quads = kw.get("score_as_quads", False)
    with monkeypatch.context() as mp:
        mp.setattr(GramStream, "select", lambda self, rows: GramStream.build(
            T.subset_norm_batch(self.nb, rows), model, score_as_quads))
        return D.detect_batch(texts, model, **kw)


def _retried_rows(texts, model):
    nb = T.normalize_batch(texts)
    out = D._detect_pass(GramStream.build(nb, model), model, repeats=False,
                         best_effort=False)
    return np.flatnonzero(~out["_converged"])


def _assert_equal_outputs(a, b):
    assert a.keys() == b.keys()
    for k in a:
        np.testing.assert_array_equal(np.asarray(a[k]), np.asarray(b[k]),
                                      err_msg=f"key {k}")


def test_cached_retry_equals_fresh_on_corpus(monkeypatch):
    pairs = [json.loads(l) for l in (DATA / "cld2_unittest_pairs.jsonl").open()]
    # long texts force retries; include everything for coverage
    texts = [p["text"] for p in pairs]
    m = default_model()
    rows = _retried_rows(texts, m)
    assert len(rows)
    nb = T.normalize_batch(texts)
    _assert_same_stream(GramStream.build(nb, m).select(rows),
                        GramStream.build(T.subset_norm_batch(nb, rows), m))
    _assert_equal_outputs(D.detect_batch(texts, m),
                          _fresh_detect(texts, m, monkeypatch))


def test_cached_retry_equals_fresh_on_synth_transcripts(monkeypatch):
    from cld2_spark.sources.transcripts import synth_transcripts_pandas
    texts = synth_transcripts_pandas(600)["text"].tolist()
    m = default_model()
    rows = _retried_rows(texts, m)
    assert len(rows)
    nb = T.normalize_batch(texts)
    _assert_same_stream(GramStream.build(nb, m).select(rows),
                        GramStream.build(T.subset_norm_batch(nb, rows), m))
    _assert_equal_outputs(D.detect_batch(texts, m),
                          _fresh_detect(texts, m, monkeypatch))
    # flags ride through the retry identically
    _assert_equal_outputs(D.detect_batch(texts, m, best_effort=True),
                          _fresh_detect(texts, m, monkeypatch,
                                        best_effort=True))


def test_squeezed_rows_take_the_fresh_path(monkeypatch):
    # a >2KB junk row (squeeze trigger) mixed with normal rows: squeezed
    # text differs from pass 1, so it must NOT be a selection of pass 1's
    # stream -- and the result must still match an all-fresh run
    junk = ("za.jpg zb.jpg " * 200) + "  Dies ist ein ganz normaler deutscher Satz. "
    texts = [junk * 2, "The quick brown fox jumps over the lazy dog again.",
             "Ceci est une phrase en francais pour le test."]
    m = default_model()
    selected = []
    orig = GramStream.select

    def spy(self, rows):
        selected.append(rows.tolist())
        return orig(self, rows)

    with monkeypatch.context() as mp:
        mp.setattr(GramStream, "select", spy)
        out = D.detect_batch(texts, m)
    assert all(0 not in rows for rows in selected)
    _assert_equal_outputs(out, _fresh_detect(texts, m, monkeypatch))


def test_subset_norm_batch_equals_fresh_normalize():
    """The retry's NormBatch reuse: a row-subset of a batch's NormBatch is
    bit-identical to normalize_batch of the subset texts (incl. the
    global-leading-space repair when row 0 is dropped)."""
    texts = ["Hello world", " leading space", "", "数据 mixed текст",
             "tail ", "a", "  ", "Ωμέγα τέλος", "x" * 100]
    nb = T.normalize_batch(texts)
    rng = np.random.RandomState(3)
    for _ in range(40):
        k = rng.randint(1, len(texts) + 1)
        rows = np.sort(rng.choice(len(texts), size=k, replace=False))
        sub = T.subset_norm_batch(nb, rows)
        fresh = T.normalize_batch([texts[i] for i in rows])
        for f in NB_FIELDS:
            np.testing.assert_array_equal(
                getattr(sub, f), getattr(fresh, f), err_msg=f"{rows} {f}")
        assert sub.n == fresh.n
    # the same subsets as gram-stream selections
    _check_selections(texts, default_model(), seed=3)


def test_best_effort_rescue_selection_equivalence():
    """The analyze-path bestEffort rescue scores a selection of pass 1's
    stream (incl. the on-demand J2 backoff hash from the selection's
    buffer); its result must be bit-identical to the fresh
    subset-normalize path."""
    from cld2_spark.kernels.detect import detect_batch
    from tests.test_retry_summary import FR

    model = default_model()
    texts = [FR[:120], "short greek row " + "αβγ δεζ ηθι " * 4,
             "the gardens were quiet during the morning hours today",
             "", "café " * 30]
    nb = T.normalize_batch(texts)
    stream = GramStream.build(nb, model)
    for rows in (np.arange(len(texts)), np.array([1, 2, 4]), np.array([3])):
        sel = stream.select(rows)
        _assert_same_stream(
            sel, GramStream.build(T.subset_norm_batch(nb, rows), model))
        sub = [texts[i] for i in rows]
        a = detect_batch(sub, model, best_effort=True, stream=sel)
        fresh = GramStream.build(T.subset_norm_batch(nb, rows), model)
        b = detect_batch(sub, model, best_effort=True, stream=fresh)
        for k in ("summary_lang", "summary_pct", "rel1", "is_reliable",
                  "lang1", "lang2", "pct1", "pct2"):
            np.testing.assert_array_equal(a[k], b[k], err_msg=k)
