"""Physical-plan structure gates: the properties that keep the pipeline
viable at 100TB must hold in the actual Catalyst output, not just in prose."""

from pyspark.sql import functions as F

from cld2_spark.plans.inspect import formatted_plan, plan_stats
from cld2_spark.pipeline.stages import run_pipeline
from cld2_spark.sources.transcripts import spark_transcripts


def test_pipeline_is_shuffle_free_single_python_stage(spark, tmp_path):
    """One Python stage, no shuffle, and no string work beneath
    ArrowEvalPython: the langid kernel's codepoint pass returns the rule
    flags and the scrub/toxicity guards, so the subtree that feeds the
    Python worker only scans. Above the UDF the decision reads the
    kernel's four verdicts from the struct, and every scrub step and the
    toxicity regex sit behind a guard field of it."""
    import re

    # realistic source: parquet scan, not an in-memory relation
    src = str(tmp_path / "t")
    spark_transcripts(spark, 500).write.parquet(src)
    df = run_pipeline(spark.read.parquet(src))
    plan = formatted_plan(df)
    stats = plan_stats(df)
    assert stats["exchanges"] == 0, plan
    assert stats["python_stages"] == 1, plan
    py = re.search(r"^\((\d+)\) ArrowEvalPython\s*\nInput \[\d+\]: \[(.*)\]$",
                   plan, re.M)
    assert py, plan
    beneath = {c.split("#")[0] for c in py.group(2).split(", ")}
    assert beneath == {"conv_id", "turn_idx", "text"}, plan
    # operator ids number the chain bottom-up: the ones below the UDF's
    # are the subtree that feeds it
    details = re.split(r"^(?=\(\d+\) )", plan.split("\n\n\n", 1)[1], flags=re.M)
    below = "".join(d for d in details
                    if (m := re.match(r"\((\d+)\)", d))
                    and int(m.group(1)) < int(py.group(1)))
    assert "Scan parquet" in below, plan
    for op in ("regexp", "rlike", "split(", "instr(", "lower("):
        assert op not in below.lower(), (op, below)
    above = plan.split(py.group(0), 1)[1]
    for field in ("too_short", "langid_unreliable", "low_quality",
                  "high_perplexity", "has_digit", "has_at", "tox_cand"):
        assert re.search(rf"(?:pythonUDF\d+|ld)#\d+\.{field}\b", above), (field, plan)
    assert "translate(" not in plan


def test_projection_pushdown_reaches_scan(spark, tmp_path):
    src = str(tmp_path / "t2")
    spark_transcripts(spark, 500).write.parquet(src)
    df = spark.read.parquet(src).select("conv_id", "turn_idx")
    plan = formatted_plan(df)
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    src = str(tmp_path / "t3")
    spark_transcripts(spark, 500).write.parquet(src)
    df = spark.read.parquet(src).where(F.col("role") == "user")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(role,user)" in plan.replace(" ", "").replace("'", "") or \
           "EqualTo(role" in plan


def test_topk_join_is_broadcast(spark):
    import __spark_entry__ as E
    df = E.queries()["top_customers"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["broadcast_joins"] >= 1
    assert stats["sortmerge_joins"] == 0


def test_brand_revenue_filter_pushed_and_broadcast(spark):
    """The driver's lineitem-join-part query: selective filter reaches the
    parquet scan, the small dim side broadcasts (no sort-merge)."""
    import __spark_entry__ as E
    df = E.queries()["brand_revenue"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    stats = plan_stats(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    assert stats["broadcast_joins"] >= 1
    assert stats["sortmerge_joins"] == 0


def test_strip_html_is_pure_codegen(spark):
    """S3/S4 chain must stay whole-stage-codegen SQL: no Python stage."""
    import __spark_entry__ as E
    df = E.queries()["strip_html"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["python_stages"] == 0
    assert stats["exchanges"] == 0


def test_lang_spans_single_python_stage(spark):
    import __spark_entry__ as E
    df = E.queries()["lang_spans"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["python_stages"] == 1
    assert stats["exchanges"] == 0


def test_ann_ivf_centroids_broadcast(spark):
    """IVF assignment must broadcast the tiny centroid relation -- the big
    vector side streams map-side; no sort-merge join anywhere."""
    import __spark_entry__ as E
    df = E.queries()["ann_ivf"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or stats["broadcast_joins"] >= 1
    assert stats["sortmerge_joins"] == 0, plan
    assert stats["python_stages"] == 0


def test_dedup_embedding_candidate_join_is_ids_only(spark):
    """The band self-join must exchange only (band_key, id) -- embedding
    arrays never ride the candidate shuffle (the 100TB-safe shape)."""
    import __spark_entry__ as E
    df = E.queries()["dedup_embedding"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    # every exchange on the candidate path partitions by band_key or by
    # the pair ids; none carries the embedding column
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1), m.group(0)
    assert plan_stats(df)["python_stages"] == 0


def test_regional_revenue_dims_broadcast(spark):
    """The Q5-shaped 6-table join: the hinted dimension sides (supplier,
    nation, region) must broadcast regardless of stats; no per-row
    Python anywhere."""
    import __spark_entry__ as E
    df = E.queries()["regional_revenue"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["broadcast_joins"] >= 3
    assert stats["python_stages"] == 0


def test_dedup_jaccard_index_is_ids_only(spark):
    """The inverted-index self-join must exchange only (hash, id) -- text
    and gram arrays never ride the candidate shuffle."""
    import re

    import __spark_entry__ as E
    df = E.queries()["dedup_jaccard"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    assert plan_stats(df)["python_stages"] == 0


def test_event_sessions_single_shuffle(spark):
    """Sessionization: both window passes and both aggregate levels must
    reuse ONE hashpartitioning(user_id) exchange -- the shape that keeps
    a 10^12-event sessionization at one shuffle."""
    import __spark_entry__ as E
    df = E.queries()["event_sessions"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["exchanges"] == 1, formatted_plan(df)
    assert stats["python_stages"] == 0


def test_funnel_is_aggregation_only_no_window_sort(spark):
    """funnel_steps must stay agg+join: no Window (per-user sort) and no
    Python stage anywhere -- the property that makes it skew-immune (a
    10^6-event user costs the same map-side combine as a 10-event one)."""
    import datetime as dt

    from cld2_spark.operators.funnel import funnel_steps
    from cld2_spark.plans.inspect import formatted_plan, plan_stats
    rows = [(i % 7, t, dt.datetime(2024, 1, 1, 0, i % 50))
            for i in range(200) for t in ("a", "b")]
    df = spark.createDataFrame(
        rows, "user_id: long, event_type: string, ts: timestamp")
    out = funnel_steps(df, ["a", "b"])
    plan = formatted_plan(out)
    stats = plan_stats(out)
    assert "Window" not in plan, plan
    assert stats["python_stages"] == 0
    assert stats["exchanges"] <= 3, plan  # one per step agg + join side


def test_corpus_shuffle_is_single_exchange(spark):
    """The terasort shape: ONE hash exchange on the shard id, then an
    in-partition sort -- no global ordering operator anywhere."""
    from cld2_spark.operators.curation import corpus_shuffle
    from cld2_spark.plans.inspect import formatted_plan, plan_stats
    out = corpus_shuffle(spark.range(1000).withColumnRenamed("id", "doc_id"))
    stats = plan_stats(out)
    plan = formatted_plan(out)
    assert stats["exchanges"] == 1, plan
    # rangepartitioning would mean a driver-sampled global sort crept in
    assert "rangepartitioning" not in plan.lower(), plan


def test_dup_spans_has_no_join(spark):
    """Exact span dedup is aggregate-only: one (hash, id) row per token,
    no candidate join stage at all (the suffix-array replacement's whole
    point); countDistinct lowers to a two-level partial aggregate."""
    from cld2_spark.operators.dedup import duplicated_spans
    from cld2_spark.plans.inspect import formatted_plan, plan_stats
    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(20))) for i in range(50)],
        "doc_id: long, text: string")
    out = duplicated_spans(df, w=16)
    stats = plan_stats(out)
    assert stats["broadcast_joins"] == 0 and stats["sortmerge_joins"] == 0
    assert stats["python_stages"] == 0
    assert stats["exchanges"] == 2, formatted_plan(out)  # distinct-agg pair


def test_pq_joins_are_broadcast_no_embedding_on_big_side(spark):
    """PQ encode + ADC search: the codebook/LUT relations broadcast (no
    sort-merge join anywhere), and the ADC scorer's big side carries only
    (nid, s, cw) code rows — the embedding array never rides a shuffle
    after assignment."""
    import __spark_entry__ as E
    for q in ("pq_codes", "pq_ann"):
        df = E.queries()[q](spark, "/root/testdata/sf0.001")
        stats = plan_stats(df)
        assert stats["broadcast_joins"] >= 1, q
        assert stats["sortmerge_joins"] == 0, (q, formatted_plan(df))


def test_bloom_prefilter_shapes(spark):
    """Bloom incremental dedup: exactly ONE join in the final plan (the
    exact anti-join verify on the maybe-seen residue); the
    definitely-unseen branch reaches the result with no join at all, and
    membership testing is one Arrow stage per branch."""
    import __spark_entry__ as E
    df = E.queries()["dedup_incremental_bloom"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    stats = plan_stats(df)
    assert plan.count("Join") >= 1
    assert stats["python_stages"] >= 1  # the broadcast-bitmap test UDF
    # the union of (sure-fresh, verified) feeds ONE final aggregate
    assert "Union" in plan


def test_dup_span_cuts_window_is_per_document(spark):
    """The interval-merge window partitions by doc_id (bounded state per
    document) — no corpus-wide unpartitioned window sort."""
    import __spark_entry__ as E
    df = E.queries()["dup_span_cuts"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    import re
    # every Window op's partition spec must mention doc_id
    specs = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]+),",
                       plan)
    assert specs, plan
    assert all("doc_id" in s for s in specs), specs


def test_kcenter_assignment_is_shuffle_free(spark):
    """kcenter_select's nearest-center assignment must stay ONE codegen
    projection over the scan: centers are inline literals, so there is
    no join, no exchange, and no Python stage anywhere in the plan --
    the property that makes the assignment free at 10^12 vectors."""
    from cld2_spark.operators.similarity import kcenter_select
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = kcenter_select(emb, k=3)
    stats = plan_stats(out)
    plan = formatted_plan(out)
    assert stats["exchanges"] == 0, plan
    assert stats["python_stages"] == 0, plan
    assert "Join" not in plan, plan


def test_context_trim_single_colocated_window(spark):
    """context_trim is one window over (conv_id): exactly one exchange
    (the conv_id hash partitioning the table is already bucketed by in
    production) and zero Python stages."""
    import __spark_entry__ as E
    df = E.queries()["context_trim"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["exchanges"] == 1, formatted_plan(df)
    assert stats["python_stages"] == 0


def test_turn_integrity_window_and_agg_share_one_exchange(spark):
    """turn_integrity's LAG window and its GROUP BY both key on conv_id:
    Catalyst must reuse ONE hashpartitioning(conv_id) exchange for both
    (plus at most a partial-agg pass), never re-shuffle between them."""
    import __spark_entry__ as E
    df = E.queries()["turn_integrity"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(df)
    assert stats["exchanges"] == 1, formatted_plan(df)
    assert stats["python_stages"] == 0


def test_conv_dedup_index_is_ids_only_and_soft_dedup_one_exchange(spark):
    """conv_dedup's inverted-index self-join must exchange only
    (hash, conv_id) — turn text and item arrays never ride the candidate
    shuffle. soft_dedup is exactly ONE window exchange on the text hash
    with no join anywhere."""
    import re

    import __spark_entry__ as E
    df = E.queries()["conv_dedup"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    assert plan_stats(df)["python_stages"] == 0

    sd = E.queries()["soft_dedup"](spark, "/root/testdata/sf0.001")
    stats = plan_stats(sd)
    sp = formatted_plan(sd)
    assert stats["exchanges"] == 1, sp
    assert "Join" not in sp, sp
    assert stats["python_stages"] == 0


def test_wordpiece_and_gif_single_python_stage(spark):
    """wordpiece_encode's corpus stage is ONE ArrowEvalPython projection
    with zero exchanges (the training shuffle happens before, on the
    bounded histogram); gif_features is one mapInPandas stage over the
    narrow id scan — no shuffle in either decode path."""
    from cld2_spark.operators.tokenizer import (encode_corpus_wordpiece,
                                                train_wordpiece)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _, vocab = train_wordpiece(docs, num_merges=5, min_count=1,
                               max_words=1000)
    enc = encode_corpus_wordpiece(docs, vocab)
    stats = plan_stats(enc)
    assert stats["exchanges"] == 0, formatted_plan(enc)
    assert stats["python_stages"] == 1

    import __spark_entry__ as E
    gif = E.queries()["gif_features"](spark, "/root/testdata/sf0.001")
    gstats = plan_stats(gif)
    assert gstats["python_stages"] <= 2, formatted_plan(gif)   # enc + feat
    assert gstats["exchanges"] <= 1, formatted_plan(gif)  # guarded repart
