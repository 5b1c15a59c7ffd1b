"""fastText-style langid cross-check + n-gram perplexity proxy.

Downstream stages mandated by the north rule (SURVEY.md §2.11), not present
in the reference. Both are linear bag-of-character-ngrams models -- exactly
fastText's shape -- implemented with the same broadcast 4-way gram tables as
the main detector, over *trigrams* (independent signal vs. the quadgram
detector: different gram order, different table).

  - cross-check language = argmax of summed per-trigram lang scores
    (doc-level, no chunking). Disagreement with the CLD2-style lang1 is a
    reliability penalty consumed by the keep/drop decision.
  - perplexity proxy = mean per-gram "surprise": MAX_QPROB minus the gram's
    best quantized log-prob, with unseen grams maximally surprising.
    Natural text in any trained language scores low; junk/markup scores
    high. Thresholded into drop reason 'high_perplexity'.

Vectorized end-to-end: one compressed letter stream per batch (the
detector's GramStream.letters), one hash pass, one table probe, two
scatter-adds.
"""

from __future__ import annotations

import numpy as np

from . import text as T
from .detect import GramStream
from .hashes import quad_hash_v2
from .model import MAX_QPROB, Cld2sModel

# mean surprise above this -> 'high_perplexity' (tuned in tests vs corpus)
PERPLEXITY_THRESHOLD = 9.5
MIN_GRAMS_FOR_PPL = 4  # fewer trigrams -> no perplexity verdict (too short)


def char_trigrams(arr: np.ndarray, rid_s: np.ndarray):
    """All 3-letter windows (no spaces) in a compressed stream: their row
    ids, and start bytes and byte lengths in T.encode_utf8(arr)."""
    if len(arr) < 3:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    is_letter = arr != T.SPACE
    ok = is_letter[:-2] & is_letter[1:-1] & is_letter[2:]
    pos = np.flatnonzero(ok)
    boff = T.utf8_offsets(arr)
    byte_start = boff[pos]
    return rid_s[pos], byte_start, boff[pos + 3] - byte_start


def crosscheck_batch(stream: GramStream,
                     model: Cld2sModel | None = None) -> dict[str, np.ndarray]:
    """Returns per-row: ft_lang (code), ft_score (int), ppl (float), n_grams,
    scored over the letters of every script of the detector's `stream`."""
    if model is None:
        from .model import default_model
        model = default_model()
    n = stream.nb.n
    L = len(model.langs)
    arr, rid_s, buf = stream.letters
    g_rid, bs, bl = char_trigrams(arr, rid_s)

    n_grams = np.zeros(n, dtype=np.int64)
    surprise = np.zeros(n, dtype=np.int64)

    top = np.zeros(n, dtype=np.int64)
    top_score = np.zeros(n, dtype=np.int64)
    if len(g_rid):
        h = quad_hash_v2(buf, bs, np.minimum(bl, 12))
        found, langs3, qprobs3 = model.tri.probe(h)
        # doc-level score fold in cache-resident row cohorts (g_rid sorted)
        COHORT = 1024
        # uint8 views suffice: index arithmetic upcasts, bincount casts --
        # no full-array astype copies
        lang_j = [np.ascontiguousarray(langs3[:, j]) for j in range(3)]
        q_j = [np.ascontiguousarray(qprobs3[:, j]) for j in range(3)]
        # row-tote stride 256 (lang ids are uint8): misses (lang 255,
        # qprob 0) and any unmapped ids land in dead columns the argmax
        # slice never reads -- no per-slot validity masks or gathers
        S = 256
        assert L <= 255, "lang-id domain must leave column 255 dead"
        for r0 in range(0, n, COHORT):
            r1 = min(r0 + COHORT, n)
            lo, hi = np.searchsorted(g_rid, (r0, r1))
            if lo == hi:
                continue
            size = (r1 - r0) * S
            base_idx = (g_rid[lo:hi] - r0) * S
            # one weighted bincount instead of 3 np.add.at passes (6-15x)
            sc = np.bincount(
                np.concatenate([base_idx + lang_j[j][lo:hi]
                                for j in range(3)]),
                weights=np.concatenate([q_j[j][lo:hi] for j in range(3)]),
                minlength=size).astype(np.int32)
            scm = sc.reshape(r1 - r0, S)[:, :L]
            top[r0:r1] = np.argmax(scm, axis=1)
            top_score[r0:r1] = scm[np.arange(r1 - r0), top[r0:r1]]
        n_grams = np.bincount(g_rid, minlength=n)
        best = qprobs3.max(axis=1)  # 0 when unseen
        surprise = np.bincount(g_rid, weights=MAX_QPROB - best,
                               minlength=n).astype(np.int64)

    lang_arr = np.array(model.langs + ["un"], dtype=object)
    ft_lang = lang_arr[np.where(top_score > 0, top, L)]
    ppl = np.where(n_grams > 0, surprise / np.maximum(n_grams, 1), float(MAX_QPROB))
    return {"ft_lang": ft_lang, "ft_score": top_score, "ppl": ppl, "n_grams": n_grams}
