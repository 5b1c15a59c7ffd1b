"""Round-7 optimization equivalence tests: every rewrite in this round
must be output-identical to the shape it replaced, so each gets a direct
old-vs-new comparison on a corpus small enough to compute both ways."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, n=60):
    rows = []
    for i in range(n):
        words = ["alpha", "beta", "gamma", "delta", "epsilon",
                 "zeta", "eta", "theta"]
        text = " ".join(words[(i + j) % len(words)]
                        for j in range(6 + (i % 9)))
        if i % 7 == 0:
            text = text + " " + text  # planted repetition
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_cms_from_counts_equals_raw_build(spark):
    """The sketch is linear in the input multiset, so building it from
    the (token, n) histogram must reproduce cms_build cell-for-cell."""
    from cld2_spark.operators.sketches import (cms_build, cms_from_counts,
                                               token_counts)

    docs = _docs(spark)
    raw = {(r["r"], r["c"]): r["n"]
           for r in cms_build(docs, depth=4, width=64).collect()}
    agg = {(r["r"], r["c"]): r["n"]
           for r in cms_from_counts(token_counts(docs),
                                    depth=4, width=64).collect()}
    assert raw == agg and raw


def test_minhash_bands_from_sets_equal_signature_bands(spark):
    """Band minima computed over the distinct-hash SET (the r7 shape)
    must equal the minima over the per-shingle hash multiset (the r6
    shape): an affine map is a function, so min f(x) over a multiset
    equals min over its support."""
    from cld2_spark.operators.dedup import (_shingles_expr,
                                            minhash_band_exprs,
                                            minhash_signatures,
                                            shingle_hash_expr)

    docs = _docs(spark)
    old = {r["doc_id"]: tuple(r[f"band{b}"] for b in range(4))
           for r in minhash_signatures(docs, "text").collect()}
    sh = f"array_distinct({_shingles_expr('text', 5)})"
    hs = (f"array_distinct(transform({sh}, "
          f"s -> {shingle_hash_expr('s', 'spark')}))")
    sets = docs.select("doc_id", F.expr(hs).alias("s"))
    bands = minhash_band_exprs("spark", "s", 4)
    new = {r["doc_id"]: tuple(r[f"b{i}"] for i in range(4))
           for r in sets.select(
               "doc_id", *[F.expr(b).alias(f"b{i}")
                           for i, b in enumerate(bands)]).collect()}
    assert old == new and old


def test_classifier_train_weights_invariant_to_task_layout(spark):
    """train()'s data-sized coalesce must not change the weights: the
    gradient is an order-independent integer sum."""
    from cld2_spark.operators import classifier as C

    docs = _docs(spark, 40).withColumn(
        "text", F.concat_ws(" ", "text",
                            F.expr("IF(doc_id % 3 = 0, 'fast fast', 'slow')")))
    feat = C.featurize(docs).persist()
    try:
        w_many = C.train(feat.repartition(4), iters=4)
        w_one = C.train(feat.coalesce(1), iters=4)
    finally:
        feat.unpersist()
    assert w_many == w_one


def test_kcenter_empty_input_returns_empty(spark):
    """ADVICE r6: kcenter_select raised IndexError on an empty input."""
    from cld2_spark.operators.similarity import kcenter_select

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>")
    out = kcenter_select(empty, k=3)
    assert out.columns == ["vec_id", "center_id", "d2"]
    assert out.count() == 0


def test_semdedup_matches_unpersisted_recompute(spark):
    """The r7 persist + cluster repartition in semdedup_pairs must be
    result-transparent: compare against a straight recompute of the
    definition (assignment join + capped intra-cluster cosine)."""
    from cld2_spark.operators.dedup import release_dedup_caches
    from cld2_spark.operators.similarity import (_dot, _norm, kmeans_assign,
                                                 semdedup_pairs)

    rows = []
    for i in range(40):
        base = [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
        rows.append((i, base))
        if i % 4 == 0:  # planted near-duplicate
            rows.append((1000 + i, [x + 0.001 for x in base]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r["a"], r["b"], r["sim"])
           for r in semdedup_pairs(df, threshold=0.9, iters=2,
                                   cent_mod=7).collect()}
    release_dedup_caches(session=spark)
    a = kmeans_assign(df, iters=2, cent_mod=7)
    release_dedup_caches(session=spark)
    e = (a.join(df, on="vec_id")
         .select("cluster", F.col("vec_id").alias("id"),
                 F.col("embedding").alias("v")))
    sim = F.expr(_dot("va", "vb")) / (F.expr(_norm("va")) * F.expr(_norm("vb")))
    x = e.select("cluster", F.col("id").alias("a"), F.col("v").alias("va"))
    y = e.select("cluster", F.col("id").alias("b"), F.col("v").alias("vb"))
    want = {(r["a"], r["b"], r["sim"])
            for r in (x.join(y, on="cluster")
                      .where(F.col("a") < F.col("b"))
                      .withColumn("sim", sim)
                      .where(F.col("sim") >= 0.9)
                      .select("a", "b", F.round("sim", 4).alias("sim"))
                      ).collect()}
    assert got == want and got


def test_semdedup_releases_previous_caches(spark):
    """kmeans_assign (and semdedup_pairs through it) follows the dedup
    cache lifecycle: each call releases the previous call's persisted
    assignments, so repeated calls leave one call's worth behind."""
    from cld2_spark.operators.dedup import release_dedup_caches
    from cld2_spark.operators.similarity import semdedup_pairs

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    def frame(shift: int):
        return spark.createDataFrame(
            [(i, [float((i * 7 + d * 3 + shift) % 11 - 5) for d in range(8)])
             for i in range(60)], "vec_id bigint, embedding array<double>")

    release_dedup_caches(session=spark)
    before = persisted()
    semdedup_pairs(frame(0), threshold=0.9, cent_mod=7).collect()
    one_call = len(persisted() - before)
    for shift in (1, 2):
        semdedup_pairs(frame(shift), threshold=0.9, cent_mod=7).collect()
    assert one_call >= 1
    assert len(persisted() - before) == one_call


def test_register_memo_restores_dropped_view(spark):
    """The per-session `_register` memo must not trust its key once an
    expected view is gone: a query entry after `transcripts` was dropped
    re-registers the views and returns the same rows."""
    import __spark_entry__ as E
    from test_frozen_fixture import SF_DIR as sf

    q = E.queries()["conv_rollup"]
    want = sorted(q(spark, sf).collect())
    assert want
    spark.catalog.dropTempView("transcripts")
    assert sorted(q(spark, sf).collect()) == want
