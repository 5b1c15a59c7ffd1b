"""W5 distinct-boost ring: exact 4-entry-ring semantics in _score_hits.

Reference: AddDistinctBoost2 keeps the last 4 distinct-hit langprobs in a
ring (internal/scoreonescriptspan.cc:112-121); ScoreBoosts re-adds every
live ring slot to each chunk's tote (:125-152). The ScoringContext that
holds the ring is initialized once per document and "carries state across
scriptspans" (internal/compact_lang_det_impl.cc:1766-1779), so a distinct
hit boosts its own chunk (a second time, on top of its linear add) and
every later chunk of the row until four newer distinct hits evict it.
"""

import numpy as np

from cld2_spark.kernels.detect import _score_hits


def _run(g_rid, langs, qprobs, gbytes, dmask, n_rows=1, n_langs=4,
         chunk_size=2):
    acc = tuple(np.zeros((n_rows, n_langs), dtype=np.int32) for _ in range(3))
    g_rid = np.asarray(g_rid, dtype=np.int32)
    _score_hits(g_rid,
                np.asarray(langs, dtype=np.uint8).reshape(-1, 1),
                np.asarray(qprobs, dtype=np.uint8).reshape(-1, 1),
                np.asarray(gbytes, dtype=np.int32),
                chunk_size, n_rows, n_langs, acc, seg_rid=g_rid,
                distinct_mask=np.asarray(dmask, dtype=bool))
    return acc  # (bytes_rl, score_rl, relw_rl)


def test_ring_boosts_own_and_all_later_chunks():
    # 10 base grams of lang 1 (qprob 1 each) -> 5 chunks of 2; one distinct
    # hit (lang 2, qprob 4, zero bytes) after the first base gram (chunk 0).
    g_rid = [0] * 11
    langs = [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    qprob = [1, 4, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    gbyte = [1, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    dmask = [False, True] + [False] * 9
    byts, score, _ = _run(g_rid, langs, qprob, gbyte, dmask)
    # linear add (4) + one ring re-add in each of the 5 chunks (5*4);
    # the boosted language out-scores the 2 base votes in every chunk, so
    # winner-take-all also hands it all 10 byte credits
    assert score[0, 2] == 4 + 5 * 4
    assert byts[0, 2] == 10
    assert score[0, 1] == 0


def test_ring_eviction_after_four_newer_hits():
    # D0 lands in chunk 0; four newer distinct hits land in chunk 2.
    # Chunk 2's ScoreBoosts runs AFTER its linear scan pushed the four
    # newer hits, so D0 is already evicted there: D0 re-adds in chunks
    # 0 and 1 only, the newer hits re-add in chunks 2 and 3.
    g_rid = [0] * 13
    #        b  D0 b  b  b  D  D  D  D  b  b  b  b      (b = base lang 1)
    langs = [1, 2, 1, 1, 1, 3, 3, 3, 3, 1, 1, 1, 1]
    qprob = [1, 4, 1, 1, 1, 2, 2, 2, 2, 1, 1, 1, 1]
    gbyte = [1, 0, 1, 1, 1, 0, 0, 0, 0, 1, 1, 1, 1]
    dmask = [False, True, False, False, False, True, True, True, True,
             False, False, False, False]
    _, score, _ = _run(g_rid, langs, qprob, gbyte, dmask)
    # 8 base grams -> 4 chunks of 2. D0: linear 4 + ring in chunks 0, 1.
    assert score[0, 2] == 4 + 2 * 4
    # each D (qprob 2): linear + ring re-add in chunks 2 and 3
    assert score[0, 3] == 4 * 2 + 4 * 2 * 2


def test_ring_resets_per_row():
    # row 0 has the distinct hit; row 1 must see none of it
    g_rid = [0, 0, 0, 1, 1]
    langs = [1, 2, 1, 1, 1]
    qprob = [1, 4, 1, 1, 1]
    gbyte = [1, 0, 1, 1, 1]
    dmask = [False, True, False, False, False]
    _, score, _ = _run(g_rid, langs, qprob, gbyte, dmask, n_rows=2)
    assert score[0, 2] == 4 + 4  # linear + own-chunk ring re-add
    assert score[1, 2] == 0


def test_no_distinct_mask_matches_mask_of_false():
    g_rid = [0] * 6
    langs = [1, 1, 2, 1, 1, 1]
    qprob = [1, 1, 4, 1, 1, 1]
    gbyte = [1, 1, 1, 1, 1, 1]
    acc_a = tuple(np.zeros((1, 4), dtype=np.int32) for _ in range(3))
    acc_b = tuple(np.zeros((1, 4), dtype=np.int32) for _ in range(3))
    args = (np.asarray(g_rid, dtype=np.int32),
            np.asarray(langs, dtype=np.uint8).reshape(-1, 1),
            np.asarray(qprob, dtype=np.uint8).reshape(-1, 1),
            np.asarray(gbyte, dtype=np.int32), 2, 1, 4)
    _score_hits(*args, acc_a, seg_rid=args[0], distinct_mask=None)
    _score_hits(*args, acc_b, seg_rid=args[0],
                distinct_mask=np.zeros(6, dtype=bool))
    for a, b in zip(acc_a, acc_b):
        np.testing.assert_array_equal(a, b)


def _ring_reference_scores(g_rid, langs, qprobs, gbytes, dmask, n_rows,
                           n_langs, chunk_size, seg=None):
    """Slow per-hit simulator of the reference scoring loop: linear adds,
    a per-ROW 4-slot ring of distinct hits (the shared othr bank -- it
    persists across script runs), ScoreBoosts re-add at each chunk end,
    winner-take-all per chunk into per-row doc scores. `seg` (optional)
    gives each hit's script-run id: chunking is per run (the reference's
    per-scriptspan chunks) while the ring is per row."""
    import collections
    doc_score = np.zeros((n_rows, n_langs), dtype=np.int64)
    if seg is None:
        seg = list(g_rid)  # one run per row
    for row in range(n_rows):
        idx = [i for i in range(len(g_rid)) if g_rid[i] == row]
        if not idx:
            continue
        ring = collections.deque(maxlen=4)     # per ROW: the shared bank
        runs = []
        for i in idx:
            if runs and seg[runs[-1][-1]] == seg[i]:
                runs[-1].append(i)
            else:
                runs.append([i])
        for run in runs:
            n_base = sum(1 for i in run if gbytes[i] > 0)
            n_chunks = max(1, -(-n_base // chunk_size))
            runt = (0 < n_base % chunk_size < chunk_size // 2) and n_chunks > 1
            n_chunks -= runt
            cum = 0
            chunks = [[] for _ in range(n_chunks)]
            for i in run:
                c = min(cum // chunk_size, n_chunks - 1)
                chunks[c].append(i)
                if gbytes[i] > 0:
                    cum += 1
            for hit_ids in chunks:
                tote = np.zeros(n_langs, dtype=np.int64)
                for i in hit_ids:
                    tote[langs[i]] += qprobs[i]
                    if dmask[i]:
                        ring.append(i)
                for i in ring:                 # ScoreBoosts
                    tote[langs[i]] += qprobs[i]
                if tote.max() > 0:
                    w = int(np.argmax(tote))
                    doc_score[row, w] += tote[w]
    return doc_score


def test_shared_bank_boost_crosses_script_runs():
    """VERDICT r3 #4 golden: a distinct hit in a Greek run re-adds into a
    following Cyrillic run's chunks of the SAME row -- the reference's one
    shared non-Latin ring bank (scoreonescriptspan.h:124-147), which the
    old per-script rings could not do."""
    g_rid = np.array([0] * 9, dtype=np.int32)
    seg = np.array([0, 0, 0, 1, 1, 1, 1, 1, 1], dtype=np.int64)
    langs = np.array([1, 2, 1, 3, 3, 3, 3, 3, 3], dtype=np.uint8)
    qprob = np.array([1, 4, 1, 1, 1, 1, 1, 1, 1], dtype=np.uint8)
    gbyte = np.array([1, 0, 1, 1, 1, 1, 1, 1, 1], dtype=np.int32)
    dmask = np.zeros(9, dtype=bool)
    dmask[1] = True
    acc = tuple(np.zeros((1, 5), dtype=np.int32) for _ in range(3))
    _score_hits(g_rid, langs.reshape(-1, 1), qprob.reshape(-1, 1), gbyte,
                2, 1, 5, acc, distinct_mask=dmask, seg_rid=seg)
    want = _ring_reference_scores(g_rid, langs, qprob, gbyte, dmask,
                                  1, 5, 2, seg=seg.tolist())
    np.testing.assert_array_equal(acc[1], want)
    # run 0 (1 chunk): lang2 linear 4 + ring 4 = 8; run 1 (3 chunks of 2):
    # the ring entry out-votes the run's own lang3 (2/chunk) in every chunk
    assert acc[1][0, 2] == 8 + 3 * 4
    assert acc[1][0, 3] == 0
    # ring still resets per ROW even with segments
    g2 = np.array([0, 0, 1, 1, 1], dtype=np.int32)
    seg2 = np.array([0, 0, 1, 1, 1], dtype=np.int64)
    l2 = np.array([1, 2, 3, 3, 3], dtype=np.uint8)
    q2 = np.array([1, 4, 1, 1, 1], dtype=np.uint8)
    b2 = np.array([1, 0, 1, 1, 1], dtype=np.int32)
    d2 = np.array([False, True, False, False, False])
    acc2 = tuple(np.zeros((2, 5), dtype=np.int32) for _ in range(3))
    _score_hits(g2, l2.reshape(-1, 1), q2.reshape(-1, 1), b2,
                2, 2, 5, acc2, distinct_mask=d2, seg_rid=seg2)
    assert acc2[1][1, 2] == 0          # row 1 never sees row 0's ring


def test_seg_rid_fuzz_matches_simulator():
    """Random multi-script streams: per-run chunking + per-row shared ring
    in the vectorized path == the per-hit reference simulator."""
    rng = np.random.RandomState(11)
    for trial in range(40):
        n_rows = rng.randint(1, 4)
        n = rng.randint(1, 60)
        g_rid = np.sort(rng.randint(0, n_rows, n)).astype(np.int32)
        # 1-3 script runs per row, contiguous
        scr = rng.randint(0, 3, n)
        seg_key = np.ones(n, dtype=bool)
        seg_key[1:] = (g_rid[1:] != g_rid[:-1]) | (scr[1:] != scr[:-1])
        seg = (np.cumsum(seg_key) - 1).astype(np.int64)
        langs = rng.randint(1, 5, n).astype(np.uint8)
        qprob = rng.randint(1, 6, n).astype(np.uint8)
        gbyte = (rng.rand(n) < 0.7).astype(np.int32)
        dmask = ((gbyte == 0) & (rng.rand(n) < 0.6))
        cs = int(rng.choice([2, 3, 4, 5]))
        acc = tuple(np.zeros((n_rows, 8), dtype=np.int32) for _ in range(3))
        _score_hits(g_rid, langs.reshape(-1, 1), qprob.reshape(-1, 1),
                    gbyte, cs, n_rows, 8, acc, distinct_mask=dmask,
                    seg_rid=seg)
        want = _ring_reference_scores(g_rid, langs, qprob, gbyte, dmask,
                                      n_rows, 8, cs, seg=seg.tolist())
        np.testing.assert_array_equal(
            acc[1], want, err_msg=f"trial {trial}: seg stream mismatch")


def test_mixed_nonlatin_row_end_to_end():
    """The merged othr-bank path (detect._score_bank): a row mixing
    two non-Latin alphabetic scripts still detects both languages, and the
    result is stable against single-script rows in the same batch."""
    import json
    from pathlib import Path
    from cld2_spark.kernels.detect import detect_batch
    pairs = [json.loads(l) for l in
             (Path(__file__).parent / "data" /
              "cld2_unittest_pairs.jsonl").open()]
    grk = next(p["text"] for p in pairs if p["expected_lang"] == "el")
    cyr = next(p["text"] for p in pairs if p["expected_lang"] == "be")
    mixed = grk[:200] + " " + cyr[:200]
    r = detect_batch([mixed, grk, cyr])
    assert {r["lang1"][0], r["lang2"][0]} == {"el", "be"}
    assert r["pct1"][0] >= 30 and r["pct2"][0] >= 25
    # single-script rows in the same batch are unaffected by the merge
    assert r["summary_lang"][1] == "el" and r["summary_lang"][2] == "be"
    solo = detect_batch([grk, cyr])
    assert list(solo["pct1"]) == [r["pct1"][1], r["pct1"][2]]


def test_ring_matches_slow_simulator_fuzz():
    rng = np.random.RandomState(7)
    for trial in range(40):
        n_rows = rng.randint(1, 4)
        n = rng.randint(1, 60)
        g_rid = np.sort(rng.randint(0, n_rows, n)).astype(np.int32)
        langs = rng.randint(1, 5, n).astype(np.uint8)
        qprob = rng.randint(1, 6, n).astype(np.uint8)
        gbyte = (rng.rand(n) < 0.7).astype(np.int32)
        dmask = ((gbyte == 0) & (rng.rand(n) < 0.6))
        cs = int(rng.choice([2, 3, 4, 5]))  # small sizes exercise runt merge
        acc = tuple(np.zeros((n_rows, 8), dtype=np.int32) for _ in range(3))
        _score_hits(g_rid, langs.reshape(-1, 1), qprob.reshape(-1, 1),
                    gbyte, cs, n_rows, 8, acc, seg_rid=g_rid,
                    distinct_mask=dmask)
        want = _ring_reference_scores(g_rid, langs, qprob, gbyte, dmask,
                                      n_rows, 8, cs)
        np.testing.assert_array_equal(
            acc[1], want, err_msg=f"trial {trial}: seed-7 stream mismatch")
