"""Bit-exactness tests for the vectorized CLD2 hash kernels.

Golden vectors in tests/data/hash_golden_vectors.json were produced by
compiling the reference C++ (internal/cldutil_shared.cc) and recording
QuadHashV2 / OctaHash40 / BiHashV2 / PairHash outputs over a seeded
pseudo-random byte buffer (tests/data/hash_golden_buffer.hex).
"""

import json
from pathlib import Path

import numpy as np

from cld2_spark.kernels import hashes

DATA = Path(__file__).parent / "data"


def _load():
    vecs = json.loads((DATA / "hash_golden_vectors.json").read_text())
    buf = bytes.fromhex((DATA / "hash_golden_buffer.hex").read_text().strip())
    return vecs, np.frombuffer(buf, dtype=np.uint8)


def test_quad_hash_v2_golden():
    vecs, buf = _load()
    start = np.array([v["start"] for v in vecs])
    qlen = np.array([v["qlen"] for v in vecs])
    got = hashes.quad_hash_v2(buf, start, qlen)
    want = np.array([v["quad"] for v in vecs], dtype=np.uint64)
    assert (got.astype(np.uint64) == want).all()


def test_octa_hash_40_golden():
    vecs, buf = _load()
    start = np.array([v["start"] for v in vecs])
    olen = np.array([v["olen"] for v in vecs])
    got = hashes.octa_hash_40(buf, start, olen)
    want = np.array([v["octa"] for v in vecs], dtype=np.uint64)
    assert (got == want).all()


def test_bi_hash_v2_golden():
    vecs, buf = _load()
    start = np.array([v["start"] for v in vecs])
    blen = np.array([v["blen"] for v in vecs])
    got = hashes.bi_hash_v2(buf, start, blen)
    want = np.array([v["bi"] for v in vecs], dtype=np.uint64)
    assert (got.astype(np.uint64) == want).all()


def test_pair_hash_golden():
    vecs, buf = _load()
    start = np.array([v["start"] for v in vecs])
    olen = np.array([v["olen"] for v in vecs])
    qlen = np.array([v["qlen"] for v in vecs])
    oh = hashes.octa_hash_40(buf, start, olen)
    qh = hashes.quad_hash_v2(buf, start, qlen)
    got = hashes.pair_hash(oh, qh.astype(np.uint64))
    want = np.array([v["pair"] for v in vecs], dtype=np.uint64)
    assert (got == want).all()


def test_empty_gram_is_zero():
    _, buf = _load()
    z = np.array([0])
    s = np.array([10])
    assert hashes.quad_hash_v2(buf, s, z)[0] == 0
    assert hashes.octa_hash_40(buf, s, z)[0] == 0
    assert hashes.bi_hash_v2(buf, s, z)[0] == 0


def test_grams_vowel_skip_superset():
    """grams(vowel_skip=False), the training walk, yields every quad the
    inference walk does (by row and position) and the same words."""
    import numpy as np
    from cld2_spark.kernels import text as T
    from cld2_spark.kernels.detect import grams
    rng = np.random.default_rng(5)
    samples = [
        "the quick brown fox jumps over the lazy dog",
        "a b cd efg hijk lmnop qrstuv wxyzabc defghijk",
        "héllo wörld ünïcode tëxt ",
        "",
        "   ",
        "x",
        " ".join("".join(rng.choice(list("abcdefgéè "), size=rng.integers(1, 12)))
                 for _ in range(50)),
    ]
    grew = False
    for s in samples:
        nb = T.normalize_batch([s, s[::-1], "test row"])
        scripts = np.unique(nb.script[nb.letter])
        arr, rid_s, _, _ = T.letter_stream(nb, scripts)
        (q_rid, *_, q_pos, _), w = grams(arr, rid_s)
        (t_rid, *_, t_pos, _), w2 = grams(arr, rid_s, vowel_skip=False)
        inference = set(zip(q_rid.tolist(), q_pos.tolist()))
        training = set(zip(t_rid.tolist(), t_pos.tolist()))
        assert inference <= training
        grew |= len(training) > len(inference)
        for a, b in zip(w, w2):
            np.testing.assert_array_equal(a, b)
    assert grew
