"""Pin of the near-duplicate and nearest-neighbour operators' outputs: the
sha256 of the sorted rows of every public operator in operators/dedup.py
and operators/similarity.py, over seeded frames of at most 200 rows, in
the style of test_media_encoder_pin.py.

A refactor of the shared candidate/verify code must leave every digest
unchanged: a moved threshold, a changed tie-break, a dropped cast or a
different cosine formula moves the digest of each operator it touches.
Doubles are rounded to 6 places before hashing, so the pin is about the
operators' algebra, not about the last ulp of a sum.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from cld2_spark.operators import dedup as D
from cld2_spark.operators import similarity as S

OPERATOR_SHA256 = {
    "capped_band_pairs":
        "07d0492731b2e0457d61146d5e2a7e5d75e1c150daedc2fd415e5bd829613263",
    "connected_components":
        "2334b35706cb437ce0e952faec3973166048a1d8076cbcf6ba817223e411f0dd",
    "conv_dedup_pairs":
        "49099338a116f098cb221db15b2bf3a33fd6d82200dcaaddc1c90a1d674aab05",
    "cosine_topk":
        "55e3749d1294198f1e56074fc72b0b85a0580e63d90ca48365c936d2422d98af",
    "duplicated_span_cuts":
        "119d82e97403081bd04657860ca8badd8ac100e495fc2cc5a38d147465c1d60b",
    "duplicated_spans":
        "adcc4451fe8b7bf3a147e3fabd93ae670bf00af76809cebecfef421ff02e7515",
    "embedding_dup_pairs":
        "c132107a76ae6858eca0dff604cdb679fa0ae5b0a87ba2b2ea883cf351996d9d",
    "exact_dedup":
        "06d56838e419dcc51ac2e60e8737633991fa716b9f4b8c1706324f22dd56b4fa",
    "incremental_dedup":
        "14a8319d7ad728891f8966c20401b412d7d2b905c95de1ac9ac291f1f44be659",
    "incremental_dedup_bloom":
        "14a8319d7ad728891f8966c20401b412d7d2b905c95de1ac9ac291f1f44be659",
    "itemset_jaccard_pairs":
        "f551facc8425a38f10498ea75efb105f3675be4ac011274189cf88af5a99af1e",
    "ivf_cosine_topk":
        "aad6337f91893fa3fdc9c64eb5abd8927791a7d16e2cc41002bd60cfd96f40e1",
    "kcenter_select":
        "14c65273fc271e08b1f04ee92bbded5203c30b16f55f5a02c7134c715b771adb",
    "kmeans_assign":
        "2498fa88f47ae08a750ad0613782861da24ec017292a7c58a4e05143067e1866",
    "kmeans_assign_two_level":
        "cd32537c884f8a5855871772d9bfb19c0041c24465d36b3b84f47fff4f7e9b7d",
    "lsh_cosine_topk":
        "f0ca1eeb9af21bcd7c81f78e708772f389efee997f74538a8411560bf8d03036",
    "minhash_lsh_pairs":
        "0523625e58a93e085c40042f3119e309360e69dc0a38912380d940e53929430c",
    "minhash_signatures":
        "cbf63ed09437b20329bd310c88b79fbc76ee3d421aedc3018ab167fc8480b7b3",
    "ngram_jaccard_pairs":
        "7c146e75b5595a5a1e5b737402236d1c2259142208ad4bd72127641c3e648291",
    "pq_adc_topk":
        "0240decfe2aca79c573e18ebcdefce892469ebac76d4a7adef097f0869484aac",
    "pq_encode":
        "731bfdf24b55f41c80ed481bdef9d1b99bdca816b4af7aec658588cbb5a94da7",
    "quantize_embeddings":
        "2c1b2af62a5c9bc4e980f11d564f1bc255f7db77520bdf5c8b95b0c48bf5ef4f",
    "semdedup_pairs":
        "4df9759a1ea63e6668b5e38626e31a13682298673d263794b5cd83aa5d7d2505",
    "simhash62_batch":
        "31452b8d319da54b2422618f643fc809d5608c498e1c650c24f8f824059569f5",
    "simhash_pairs":
        "6fe8e83b71281140e2eb9be28073f43842580d2e57ac433a4c2cae7e2f94acbe",
    "soft_dedup_weights":
        "97aa7d691cb19df54912e67e0b7b4ef697e03e1c57d624e5b62ab7bf2f142d48",
}

_WORDS = [f"w{i}" for i in range(40)]


def _texts(n: int, seed: int) -> list[str]:
    """Seeded documents of 18-40 words; every fifth one is a near copy of
    an earlier one (one word changed), every seventh an exact copy."""
    rng = np.random.default_rng(seed)
    out: list[str] = []
    for i in range(n):
        if i % 7 == 6:
            out.append(out[int(rng.integers(0, i))])
        elif i % 5 == 4:
            toks = out[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "edit"
            out.append(" ".join(toks))
        else:
            k = int(rng.integers(18, 41))
            out.append(" ".join(_WORDS[j] for j in
                                rng.integers(0, len(_WORDS), size=k)))
    return out


def _frame(spark, rows, schema: str):
    """A frame built through Arrow from pandas: its scan runs in the JVM,
    with no Python worker per input partition."""
    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _docs(spark, n: int = 120, seed: int = 17):
    return _frame(spark, 
        list(enumerate(_texts(n, seed))), "doc_id long, text string")


def _vectors(spark, n: int = 150, dim: int = 16, seed: int = 23):
    """Seeded 3-decimal vectors; every sixth one is a tiny perturbation
    of an earlier one (a planted near-duplicate)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        if i % 6 == 5:
            base = rows[int(rng.integers(0, i))][1]
            v = [round(x + 0.001 * (j % 3), 3) for j, x in enumerate(base)]
        else:
            v = [round(float(x), 3) for x in rng.normal(size=dim)]
        rows.append((i, v))
    return _frame(spark, rows, "vec_id long, embedding array<double>")


def _queries(vecs):
    return vecs.where("vec_id % 10 = 3")


def _transcripts(spark, seed: int = 5, n_conv: int = 40):
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_conv):
        for t in range(int(rng.integers(3, 7))):
            rows.append((f"c{c}", t, "user",
                         f"turn {int(rng.integers(0, 25))}"))
    return _frame(
        spark, rows, "conv_id string, turn_idx int, role string, text string")


def _batch_and_seen(spark):
    texts = _texts(160, 29)
    seen = [(i, t) for i, t in enumerate(texts[:80])]
    seen.append((999, None))
    batch = [(1000 + i, t) for i, t in enumerate(texts[60:160])]
    batch += [(2000, texts[100]), (2001, None), (2002, texts[3])]
    schema = "doc_id long, text string"
    return _frame(spark, batch, schema), _frame(spark, seen, schema)


_DOC_OPERATORS = {"exact_dedup", "minhash_signatures", "minhash_lsh_pairs",
                  "ngram_jaccard_pairs", "simhash_pairs", "duplicated_spans",
                  "duplicated_span_cuts", "soft_dedup_weights"}
_VECTOR_OPERATORS = {name for name in OPERATOR_SHA256 if name.startswith((
    "cosine", "lsh_", "ivf_", "embedding_", "quantize_", "kmeans_",
    "semdedup_", "pq_", "kcenter_"))}


def _outputs(spark, name: str):
    """The output of one operator: a DataFrame, or a list of row tuples
    for the one pure-NumPy operator. pq_assignments is pinned through
    pq_encode (its codes and residuals) and pq_adc_topk (its codebook)."""
    docs = _docs(spark) if name in _DOC_OPERATORS else None
    vecs = _vectors(spark) if name in _VECTOR_OPERATORS else None
    if name == "exact_dedup":
        return D.exact_dedup(docs)
    if name == "minhash_signatures":
        return D.minhash_signatures(docs)
    if name == "capped_band_pairs":
        stacked = _frame(
            spark, [(f"k{i % 4}", i) for i in range(30)] + [("big", i)
                                                    for i in range(9)],
            "band_key string, id long")
        return D.capped_band_pairs(stacked, bucket_cap=6)
    if name == "minhash_lsh_pairs":
        return D.minhash_lsh_pairs(docs, min_jaccard_pct=30)
    if name == "ngram_jaccard_pairs":
        return D.ngram_jaccard_pairs(docs, min_jaccard_pct=30)
    if name == "simhash62_batch":
        return [(int(x),) for x in D.simhash62_batch(_texts(120, 17))]
    if name == "simhash_pairs":
        return D.simhash_pairs(docs, max_hamming=12)
    if name == "connected_components":
        pairs = _frame(
            spark, [(1, 2), (1, 3), (5, 4), (7, 8), (7, 9), (3, 11)],
            "a long, b long")
        return D.connected_components(pairs)
    if name == "duplicated_spans":
        return D.duplicated_spans(docs, w=8)
    if name == "duplicated_span_cuts":
        return D.duplicated_span_cuts(docs, w=8)
    if name == "incremental_dedup":
        return D.incremental_dedup(*_batch_and_seen(spark))
    if name == "incremental_dedup_bloom":
        return D.incremental_dedup_bloom(*_batch_and_seen(spark),
                                         n_bits=1 << 10)
    if name == "itemset_jaccard_pairs":
        sets = _frame(
            spark, [(i, [int(x) for x in
                  np.random.default_rng(i % 13).integers(0, 30, size=8)])
             for i in range(60)], "id long, s array<long>")
        return D.itemset_jaccard_pairs(sets, min_jaccard_pct=20)
    if name == "conv_dedup_pairs":
        return D.conv_dedup_pairs(_transcripts(spark), min_jaccard_pct=20)
    if name == "soft_dedup_weights":
        return D.soft_dedup_weights(docs)
    if name == "cosine_topk":
        return S.cosine_topk(vecs, _queries(vecs), k=4)
    if name == "lsh_cosine_topk":
        return S.lsh_cosine_topk(vecs, _queries(vecs), k=4, n_planes=4,
                                 dim=16)
    if name == "ivf_cosine_topk":
        return S.ivf_cosine_topk(vecs, _queries(vecs), k=4, cent_mod=7,
                                 n_probe=3)
    if name == "embedding_dup_pairs":
        return S.embedding_dup_pairs(vecs, threshold=0.9, n_planes=4,
                                     dim=16)
    if name == "quantize_embeddings":
        return S.quantize_embeddings(vecs)
    if name == "kmeans_assign":
        return S.kmeans_assign(vecs, iters=2, cent_mod=7, n_est=150)
    if name == "kmeans_assign_two_level":
        return S.kmeans_assign(vecs, iters=2, cent_mod=5, n_est=150,
                               broadcast_cap=1, coarse_factor=3)
    if name == "semdedup_pairs":
        return S.semdedup_pairs(vecs, threshold=0.9, cent_mod=7, n_est=150)
    if name == "pq_encode":
        return S.pq_encode(vecs, n_sub=4, cb_mod=7)
    if name == "pq_adc_topk":
        return S.pq_adc_topk(vecs, _queries(vecs), k=4, n_sub=4, cb_mod=7)
    if name == "kcenter_select":
        return S.kcenter_select(vecs, k=5)
    raise KeyError(name)


def _norm(v):
    if isinstance(v, Row):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float):
        return round(v, 6)
    return v


def operator_digest(spark, name: str) -> tuple[str, int]:
    out = _outputs(spark, name)
    if isinstance(out, list):
        rows, cols = out, []
    else:
        rows, cols = out.collect(), out.columns
    keyed = sorted(repr(_norm(tuple(r))) for r in rows)
    digest = hashlib.sha256(repr(cols).encode())
    for line in keyed:
        digest.update(line.encode() + b"\n")
    return digest.hexdigest(), len(rows)


@pytest.mark.parametrize("name", sorted(OPERATOR_SHA256))
def test_pair_operator_rows_pinned(spark, name):
    got, n_rows = operator_digest(spark, name)
    assert n_rows > 0, name
    assert got == OPERATOR_SHA256[name]
