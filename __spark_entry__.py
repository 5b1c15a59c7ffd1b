"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship quality-filter pipeline over a
transcripts-shaped view of sf0.001. `queries()` exposes one callable per
implemented operator (SURVEY.md §2 + training-data ops); `oracle_sql()`
gives the DuckDB-equivalent SQL for every SQL-expressible one. The four
UDF-based langid pipelines (langid / keep_drop / lang_histogram /
lang_spans) are checked against FROZEN single-node truth fixtures
(tools/freeze_expected.py) read back by DuckDB, so every query is
rows+schema+hash verified.

Column names are aliased identically on both sides; floats are rounded;
timestamps are avoided in compared outputs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cld2_spark.functions.langid import detect_spans_udf, detect_summary_udf
from cld2_spark.kernels.html import strip_html_sql
from cld2_spark.kernels.quality import low_quality_sql, too_short_sql
from cld2_spark.kernels.scrub import (scrub_spark_columns, scrub_sql,
                                      toxicity_sql)
from cld2_spark.operators import classifier as C
from cld2_spark.operators.asof import asof_join_backward
from cld2_spark.operators.cohorts import (daily_anomalies,
                                          daily_anomalies_duck_sql, reach,
                                          retention_cohorts,
                                          retention_cohorts_duck_sql)
from cld2_spark.operators.curation import (
    contaminated_ids, corpus_shuffle, corpus_shuffle_duck_sql, decontaminate,
    dedup_paragraphs, gopher_quality, gopher_quality_duck_sql, kanon_grams,
    kanon_grams_oracle_sql, mixture_sample, pack_sequences, rep_ngram_battery,
    rep_ngram_battery_oracle_sql, repetition_stats, sample_exact_k,
    sample_k_per_group, stratified_sample, tfidf_top_terms)
from cld2_spark.operators.dedup import (
    BUCKET_CAP, MERSENNE31, N_BANDS, SIMHASH_BANDS, SIMHASH_BITS, SIMHASH_P1,
    SIMHASH_P2, _persist_tracked, connected_components, conv_dedup_pairs,
    duplicated_span_cuts, duplicated_span_cuts_duck_sql, duplicated_spans,
    duplicated_spans_duck_sql, exact_dedup, incremental_dedup,
    incremental_dedup_bloom, minhash_band_exprs, minhash_lsh_pairs,
    minhash_signatures, ngram_jaccard_pairs, shingle_hash_expr,
    simhash_pairs, soft_dedup_weights)
from cld2_spark.operators.dsir import dsir_oracle_sql, dsir_select
from cld2_spark.operators.funnel import funnel_steps, funnel_steps_duck_sql
from cld2_spark.operators.gif import (encode_gif_fixture,
                                      gif_features_oracle_sql,
                                      gif_frame_features)
from cld2_spark.operators.graph import textrank_keywords, textrank_oracle_sql
from cld2_spark.operators.jpeg import (
    GRAY_FEATURE_COLS, color_fixture_pixels, decode_jpeg_progressive_gray,
    encode_jpeg_411, encode_jpeg_420, encode_jpeg_422, encode_jpeg_color,
    encode_jpeg_gray, encode_jpeg_progressive_420,
    encode_jpeg_progressive_color, encode_jpeg_progressive_gray,
    encode_jpeg_progressive_sa_gray, gray_fixture_pixels,
    jpeg_color_feature_extract, jpeg_feature_extract, jpeg_gray_features)
from cld2_spark.operators.layout import zorder_stats, zorder_stats_oracle_sql
from cld2_spark.operators.multimodal import (
    MEDIA_SCHEMA, decode_audio_meta, decode_image_meta, decode_video_meta,
    encode_image_fixture, encode_mjpeg_mp4_fixture, encode_mp4_fixture,
    encode_png_pixels, encode_wav_fixture, encode_wav_pcm_fixture,
    extract_features, feature_pixels, frame_sample, image_thumbnails,
    video_frame_features, wav_sample_features)
from cld2_spark.operators.ngram_lm import (_TOKS_DUCK, _TOKS_SPARK,
                                           ccnet_buckets,
                                           ccnet_buckets_oracle_sql,
                                           lm_score, lm_score_oracle_sql,
                                           pmi_collocations, pmi_oracle_sql)
from cld2_spark.operators.quantiles import grouped_quantiles
from cld2_spark.operators.rangejoin import range_join_points
from cld2_spark.operators.similarity import (
    _planes_literal, embedding_dup_pairs, hash_id_expr, ivf_cosine_topk,
    kcenter_oracle_sql, kcenter_select, kmeans_assign, lsh_bucket_expr,
    lsh_cosine_topk, pq_adc_topk, pq_encode, quantize_embeddings,
    semdedup_pairs)
from cld2_spark.operators.sketches import heavy_hitters
from cld2_spark.operators.textstats import (
    blocklist_hits, blocklist_oracle_sql, compression_ratio,
    key_skew_oracle_sql, key_skew_report, lang_distribution,
    length_histogram, length_histogram_oracle_sql, lexical_diversity,
    lexical_diversity_oracle_sql, normalize_text_oracle_sql,
    normalize_text_stats, quality_rank_filter, tfidf_search,
    tfidf_search_oracle_sql, winnow_fingerprints, with_split)
from cld2_spark.operators.tokenizer import (
    encode_corpus, encode_corpus_unigram, encode_corpus_wordpiece, merges_df,
    train_bpe, train_unigram, train_wordpiece, unigram_vocab_df,
    wordpiece_vocab_df)
from cld2_spark.pipeline.conversation import conversation_features
from cld2_spark.pipeline.stages import run_pipeline, with_quality
from cld2_spark.session import ensure_parallelism
from cld2_spark.sources.transcripts import transcripts_view_sql
from cld2_spark.streaming.stateful import start_conversation_state_stream
from cld2_spark.streaming.stream import (run_click_purchase_join_stream,
                                         run_enrichment_stream,
                                         run_events_session_stream,
                                         run_events_window_stream)

# frozen-expected fixtures for the non-SQL-expressible oracles
_FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "tests", "data")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# documents ++ a deterministic duplicated third -> dedup queries have real work
DUP_DOCS_SQL = ("SELECT doc_id, text FROM documents "
                "UNION ALL "
                "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
                "WHERE doc_id % 3 = 0")

# embeddings ++ deterministically perturbed near-duplicates of every 5th
# vector (double add then float round: bit-identical in Spark and DuckDB)
# -> the embedding-dedup query has real work (the synthetic embeddings have
# no natural near-dups; max pairwise cosine is ~0.51)
_PERT = "CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT)"
DUP_EMBS_SQL = {
    "spark": ("SELECT vec_id, embedding FROM embeddings UNION ALL "
              f"SELECT vec_id + 1000000 AS vec_id, "
              f"transform(embedding, x -> {_PERT}) AS embedding "
              f"FROM embeddings WHERE vec_id % 5 = 0"),
    "duckdb": ("SELECT vec_id, embedding FROM embeddings UNION ALL "
               f"SELECT vec_id + 1000000 AS vec_id, "
               f"list_transform(embedding, x -> {_PERT}) AS embedding "
               f"FROM embeddings WHERE vec_id % 5 = 0"),
}

_SHINGLE_DUCK = ("list_transform(range(1, greatest(length(text) - 3, 2)), "
                 "i -> substr(text, CAST(i AS INT), 5))")

MIN_JACC_PCT = 50  # verified-pair threshold shared by minhash_pairs + dedup_groups

# tokenizer training parameters of the bpe_* / wordpiece_* / unigram_*
# queries; tools/freeze_expected.py trains its independent single-node
# fixtures with these same values. The word-histogram bounds are shared by
# all three families.
TOK_MIN_COUNT = 2
TOK_MAX_WORDS = 20_000
BPE_NUM_MERGES = 40
WP_NUM_MERGES = 40
UNI_VOCAB_SIZE = 120
UNI_N_ITERS = 2


def _minhash_verified_pairs_sql() -> str:
    """The exact-Jaccard verified pair set (the subquery both the
    minhash_pairs oracle and the dedup_groups CC oracle must agree on --
    one definition so a threshold change cannot desynchronize them)."""
    return (
        f"SELECT a, b, CAST(FLOOR(len(list_intersect(sa.hset, sb.hset)) * 100 / "
        f"     (len(sa.hset) + len(sb.hset) - len(list_intersect(sa.hset, sb.hset)))) AS INT) AS jacc_pct "
        f"FROM cand JOIN mh_hs sa ON cand.a = sa.doc_id "
        f"JOIN mh_hs sb ON cand.b = sb.doc_id")


def _capped_pairs_duck(stacked_rel: str, cap: int = BUCKET_CAP) -> str:
    """DuckDB CTE bodies replicating operators.dedup.capped_band_pairs."""
    return (
        f"bstats AS (SELECT band_key, COUNT(*) AS c, MIN(id) AS m "
        f"  FROM {stacked_rel} GROUP BY band_key), "
        f"cand AS (SELECT DISTINCT a, b FROM ("
        f"  SELECT x.id AS a, y.id AS b "
        f"  FROM {stacked_rel} x JOIN {stacked_rel} y ON x.band_key = y.band_key "
        f"  JOIN bstats st ON x.band_key = st.band_key "
        f"  WHERE st.c <= {cap} AND x.id < y.id "
        f"  UNION ALL "
        f"  SELECT st.m AS a, s.id AS b "
        f"  FROM {stacked_rel} s JOIN bstats st ON s.band_key = st.band_key "
        f"  WHERE st.c > {cap} AND s.id > st.m))")


# last-registered sf_dir per live SparkSession (keyed by applicationId):
# registering the 10 tables + 3 derived views costs ~1.1 s of driver-side
# footer reads and view analysis, and every query entry registers first —
# under the bench's per-query timing that charged >1 s of pure setup to
# EVERY query. Registration is repeated when the sf_dir changes, the
# session does, or any expected view has gone from the catalog (a caller
# dropped it).
_REGISTERED_SF: dict[str, str] = {}
_VIEWS = TABLES + ["transcripts", "dup_docs", "dup_embs"]


def _register(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver tables + derived views as temp views
    (idempotent and memoized per session; see _REGISTERED_SF)."""
    app = spark.sparkContext.applicationId
    # the session catalog's temp-view map: ~0.2 ms a name, where
    # spark.catalog.tableExists resolves each name (~2 ms, paid per query)
    views = spark._jsparkSession.sessionState().catalog()
    if (_REGISTERED_SF.get(app) == sf_dir
            and all(views.getTempView(v).isDefined() for v in _VIEWS)):
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark.sql(transcripts_view_sql("spark", "documents")) \
        .createOrReplaceTempView("transcripts")
    spark.sql(DUP_DOCS_SQL).createOrReplaceTempView("dup_docs")
    spark.sql(DUP_EMBS_SQL["spark"]).createOrReplaceTempView("dup_embs")
    _REGISTERED_SF[app] = sf_dir


def _registered(build: Callable[[SparkSession, str], DataFrame]
                ) -> Callable[[SparkSession, str], DataFrame]:
    """`build` as a driver query: the views it reads are registered
    before it runs."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return build(spark, sf_dir)
    return run


def _duck_plane_bits(n_planes: int, seed: int) -> str:
    """DuckDB sign-bit bucket id of `embedding` against the deterministic
    hyperplanes of operators.similarity: bit i is set when the dot
    product with plane i is >= 0."""
    bits = []
    for i, p in enumerate(_planes_literal(64, n_planes, seed=seed)):
        arr = "[" + ", ".join(f"{x}" for x in p) + "]"
        dot = (f"list_sum(list_transform(list_zip(embedding, {arr}), "
               f"z -> CAST(z[1] AS DOUBLE) * z[2]))")
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _lsh_buckets_duck_sql() -> str:
    cols = [f"({_duck_plane_bits(6, 42 + t)}) AS bucket{t}" for t in range(3)]
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


def _duck_ctes() -> str:
    """Shared DuckDB CTE prelude mirroring the Spark temp views."""
    return (f"WITH transcripts AS ({transcripts_view_sql('duckdb', 'documents')}), "
            f"dup_docs AS ({DUP_DOCS_SQL}), "
            f"dup_embs AS ({DUP_EMBS_SQL['duckdb']})")


# ---------------------------------------------------------------- queries ----

def _q_scrub_pii(spark, sf_dir):
    # the transcripts view rides the single-file documents scan (1
    # partition): spread the regex scrub across cores (no-op at scale)
    df = scrub_spark_columns(ensure_parallelism(spark.table("transcripts")),
                             "text", "scrubbed_text")
    return df.select("conv_id", "turn_idx", "scrubbed_text")


def _q_quality_flags(spark, sf_dir):
    return with_quality(ensure_parallelism(spark.table("transcripts"))).select(
        "conv_id", "turn_idx", "too_short", "low_quality")


def _q_toxicity(spark, sf_dir):
    return spark.sql(
        f"SELECT conv_id, turn_idx, {toxicity_sql('text', 'spark')} AS toxic "
        f"FROM transcripts")


_HTML_WRAP = ("'<div class=\"post\"><!-- c --><p>' || text || "
              "'</p><script>var x=1;</script> &amp; &#8217;s &eacute;tape</div>'")


def _q_strip_html(spark, sf_dir):
    """S3/S4: HTML tag strip + entity expansion as a codegen SQL chain
    (the is_plain_text=false path), over deterministically HTML-wrapped
    documents."""
    return spark.sql(
        f"SELECT doc_id, {strip_html_sql(_HTML_WRAP, 'spark')} AS clean "
        f"FROM documents")


# the SQL texts below are dialect-shared: each runs on Spark as written
# and is its own DuckDB oracle (behind the _duck_ctes prelude where it
# reads a derived view)
_TURN_WINDOW_SQL = (
    "SELECT conv_id, turn_idx, "
    "ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn, "
    "COALESCE(LAG(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx), -1) AS prev_len "
    "FROM transcripts")

_PRICING_SUMMARY_SQL = (
    "SELECT l_returnflag, l_linestatus, "
    "SUM(l_quantity) AS sum_qty, "
    "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus")

_DEDUP_EXACT_SQL = (
    "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, "
    "COUNT(*) AS n_copies FROM dup_docs GROUP BY md5(text)")

_VIEWERS_NOT_BUYERS_SQL = (
    "SELECT 'view_not_buy' AS cohort, user_id FROM ("
    "  SELECT user_id FROM events WHERE event_type = 'view' "
    "  EXCEPT "
    "  SELECT user_id FROM events WHERE event_type = 'purchase') "
    "UNION ALL "
    "SELECT 'view_and_click' AS cohort, user_id FROM ("
    "  SELECT user_id FROM events WHERE event_type = 'view' "
    "  INTERSECT "
    "  SELECT user_id FROM events WHERE event_type = 'click')")


def _q_turn_window(spark, sf_dir):
    return spark.sql(_TURN_WINDOW_SQL)


def _q_sft_pairs(spark, sf_dir):
    """SFT training-pair extraction: every assistant turn whose
    IMMEDIATELY preceding turn (by turn_idx within the conversation) is
    a user turn becomes a (prompt, response) example — the canonical
    transcripts -> instruction-tuning-rows transform. One window over
    the (conv_id, turn_idx) partitioning the table is already bucketed
    by, so at 10^12 turns this is a single co-located sort per
    conversation. Prompt/response travel as md5 + lengths here (the
    driver compare hashes values; production would carry the text)."""
    return spark.sql(
        "WITH w AS (SELECT conv_id, turn_idx, role, text, "
        "  LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) "
        "    AS prev_role, "
        "  LAG(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) "
        "    AS prev_text "
        "  FROM transcripts) "
        "SELECT conv_id, turn_idx, "
        "md5(prev_text) AS prompt_hash, md5(text) AS response_hash, "
        "CAST(length(prev_text) AS BIGINT) AS prompt_len, "
        "CAST(length(text) AS BIGINT) AS response_len "
        "FROM w WHERE role = 'assistant' AND prev_role = 'user'")


def _q_conv_rollup(spark, sf_dir):
    return spark.sql(
        "SELECT conv_id, COUNT(*) AS n_turns, "
        "SUM(length(text)) AS total_chars, "
        "SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user_turns "
        "FROM transcripts GROUP BY conv_id")


def _q_pricing_summary(spark, sf_dir):
    return spark.sql(_PRICING_SUMMARY_SQL)


def _q_top_customers(spark, sf_dir):
    # broadcast the small dim explicitly (J8 analogue / SURVEY §2.3)
    orders = spark.table("orders")
    customer = spark.table("customer")
    rev = (orders.groupBy("o_custkey")
           .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    joined = rev.join(F.broadcast(customer),
                      rev.o_custkey == customer.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("revenue"), F.asc("c_custkey"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("c_mktsegment", "c_custkey", "revenue", "rank"))


def _q_dedup_exact(spark, sf_dir):
    return spark.sql(_DEDUP_EXACT_SQL)


def _q_minhash_signatures(spark, sf_dir):
    """LSH bands of r=3 affine minhashes each: collision prob = J**3 per
    band. One md5 per distinct shingle; the hash family is derived by
    affine maps mod 2^31-1 (operators/dedup.py)."""
    base = spark.table("dup_docs").where(F.length("text") >= 5)
    sigs = minhash_signatures(base, "text")
    return sigs.select("doc_id", *[f"band{b}" for b in range(N_BANDS)])


def _q_minhash_pairs(spark, sf_dir):
    """LSH banding with band-bucket skew cap, then exact Jaccard verify
    (operators/dedup.minhash_lsh_pairs -- the 100TB-safe shape)."""
    # per-shingle md5 is compute-heavy: spread a narrow scan across cores
    docs = ensure_parallelism(spark.table("dup_docs"))
    return minhash_lsh_pairs(docs, "text", "doc_id",
                             min_jaccard_pct=MIN_JACC_PCT, bucket_cap=BUCKET_CAP)


def _q_dedup_groups(spark, sf_dir):
    """Near-dup GROUP recovery: min-label connected components over the
    verified MinHash pair list (the consumer side of the band-bucket star
    cap -- capped buckets connect members only through the representative,
    so whole-group dedup requires transitive closure)."""
    pairs = minhash_lsh_pairs(spark.table("dup_docs"), "text", "doc_id",
                              min_jaccard_pct=MIN_JACC_PCT, bucket_cap=BUCKET_CAP)
    return connected_components(pairs)


def _q_token_stats(spark, sf_dir):
    return spark.sql(
        "SELECT doc_id, "
        "size(split(trim(text), '\\\\s+')) AS n_tokens, "
        "size(array_distinct(split(trim(text), '\\\\s+'))) AS n_distinct_tokens, "
        "md5(lower(trim(text))) AS fingerprint "
        "FROM documents WHERE length(trim(text)) > 0")


def _q_ann_cosine(spark, sf_dir):
    """Brute-force cosine similarity join: query vecs (vec_id < 10) vs all,
    thresholded. The scale path buckets by LSH sign bits (operators/similarity)."""
    dot = ("aggregate(zip_with(q.embedding, e.embedding, "
           "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    qn = ("sqrt(aggregate(q.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    en = ("sqrt(aggregate(e.embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    return spark.sql(
        f"SELECT q.vec_id AS qid, e.vec_id AS nid, "
        f"ROUND({dot} / ({qn} * {en}), 4) AS sim "
        f"FROM (SELECT * FROM embeddings WHERE vec_id < 10) q "
        f"CROSS JOIN embeddings e "
        f"WHERE e.vec_id != q.vec_id "
        f"  AND {dot} / ({qn} * {en}) > 0.3")


def _q_events_windowed(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table (the batch
    equivalent of the streaming windowed agg, SURVEY.md §2.9)."""
    return spark.sql(
        "SELECT unix_timestamp(date_trunc('hour', ts)) AS window_start, "
        "event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2")


def _stream_workdir(spark: SparkSession, tag: str) -> str:
    """The work dir of one streaming replay: one per Spark application,
    recreated fresh per call. The returned DataFrame reads the result
    lazily, so the dir must outlive the builder, but repeated calls
    (best-of-2 bench, repeated contract runs) must not accumulate
    checkpoints in /tmp."""
    work = str(Path(tempfile.gettempdir())
               / f"cld2s_{tag}_{spark.sparkContext.applicationId}")
    shutil.rmtree(work, ignore_errors=True)
    return work


def _q_events_stream(spark, sf_dir):
    """STREAMING driver query (VERDICT r3 #8): replay the events table
    through Structured Streaming (availableNow trigger, checkpointed,
    windowed agg) and return the final windows -- must match the same
    batch oracle as `events_windowed`."""
    return run_events_window_stream(spark, f"{sf_dir}/events.parquet",
                                    _stream_workdir(spark, "events_stream"))


def _q_events_stream_sessions(spark, sf_dir):
    """STREAMING session_window replay (streaming/stream
    .run_events_session_stream): the stateful dynamic-gap session
    aggregation under availableNow, sharing the `session_windows`
    islands oracle — streaming state machine == batch operator ==
    independent SQL, a triple agreement."""
    return run_events_session_stream(spark, f"{sf_dir}/events.parquet",
                                     _stream_workdir(spark, "sess_stream"))


def _q_events_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join replay (streaming/stream): clicks joined
    to same-user purchases within 30 minutes, both sides watermarked so
    join state is evictable — must match the plain batch interval-join
    oracle row-for-row."""
    return run_click_purchase_join_stream(
        spark, f"{sf_dir}/events.parquet",
        _stream_workdir(spark, "stream_join"))


def _q_brand_revenue(spark, sf_dir):
    """lineitem JOIN part with a selective filter -- predicate/column
    pushdown reaches the parquet scan (verified in tests/test_plans.py)."""
    li = spark.table("lineitem").where(F.col("l_quantity") > 30)
    part = spark.table("part")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_lines")))


def _q_priority_semijoin(spark, sf_dir):
    """Semi join (EXISTS): orders with a discounted line, counted per
    priority (TPC-H Q4 shape); plus the anti-join complement count."""
    return spark.sql(
        "SELECT o_orderpriority, "
        "SUM(CASE WHEN EXISTS (SELECT 1 FROM lineitem l "
        "    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
        "    THEN 1 ELSE 0 END) AS with_discounted_line, "
        "SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem l "
        "    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
        "    THEN 1 ELSE 0 END) AS without_discounted_line "
        "FROM orders o GROUP BY o_orderpriority")


def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (vectorized 62-bit fingerprint UDF; the
    DuckDB oracle recomputes the identical fingerprints in bitwise SQL)."""
    return simhash_pairs(ensure_parallelism(spark.table("dup_docs")),
                         max_hamming=3)


def _q_dedup_jaccard(spark, sf_dir):
    """Word-bigram Jaccard near-dup pairs: deterministic inverted-index
    candidates (stop-gram pruned) + exact hash-set Jaccard verify; the
    DuckDB oracle recomputes the identical gram hashes and index."""
    return ngram_jaccard_pairs(ensure_parallelism(spark.table("dup_docs")))


def _ngram_jaccard_duck_sql() -> str:
    """DuckDB mirror of operators.dedup.ngram_jaccard_pairs (n=2,
    min_common=2, df_cap=64, min_jaccard_pct=50) over dup_docs -- the
    gram hash is the shared 60-bit md5 expression, so both engines build
    the same inverted index bit-for-bit."""
    g = "array_to_string(tk[i:i+1], ' ')"
    h = shingle_hash_expr(g, "duckdb")
    jacc = ("FLOOR(100.0 * len(list_intersect(sa.hs, sb.hs)) / "
            "(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))))")
    return (
        f"{_duck_ctes()}, toks AS ("
        "  SELECT doc_id, string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' ') AS tk FROM dup_docs"
        "), sets AS ("
        "  SELECT doc_id, list_distinct(list_transform("
        f"    generate_series(1, len(tk) - 1), i -> {h})) AS hs"
        "  FROM toks WHERE len(tk) >= 2"
        "), tok AS (SELECT doc_id, unnest(hs) AS h FROM sets), "
        "keep AS (SELECT h FROM tok GROUP BY h "
        f"  HAVING count(*) BETWEEN 2 AND {BUCKET_CAP}), "
        "cand AS ("
        "  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common"
        "  FROM tok x JOIN tok y ON x.h = y.h AND x.doc_id < y.doc_id"
        "  WHERE x.h IN (SELECT h FROM keep)"
        "  GROUP BY 1, 2 HAVING count(*) >= 2) "
        "SELECT a, b, CAST(common AS INT) AS common, "
        f"CAST({jacc} AS INT) AS jacc_pct "
        "FROM cand JOIN sets sa ON a = sa.doc_id "
        "JOIN sets sb ON b = sb.doc_id "
        f"WHERE {jacc} >= 50")


def _q_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate cosine top-k (scale path)."""
    emb = spark.table("embeddings")
    # explicit n_planes: the DuckDB oracle inlines these exact hyperplanes
    out = lsh_cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5, dim=64,
                          n_planes=6)
    return out.select("qid", "nid", F.round("sim", 4).alias("sim"), "rank")


def _q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs over dup_embs (planted perturbed
    copies): sign-LSH bucket candidates + star cap + exact cosine verify
    (operators/similarity.embedding_dup_pairs -- the dedup mode)."""
    return embedding_dup_pairs(spark.table("dup_embs"), threshold=0.98,
                               n_planes=8, n_tables=2, dim=64)


def _q_semdedup(spark, sf_dir):
    """SemDeDup: kmeans-cluster the corpus (engine-exact int8 Lloyd),
    then exact-cosine near-dup pairs ONLY within a cluster — candidate
    cost bounded by cluster size, the published recipe for embedding
    dedup at 10^10 vectors. Run on dup_embs (planted perturbed copies)
    so the pair set is non-trivial and the planted dups must be found."""
    return semdedup_pairs(ensure_parallelism(spark.table("dup_embs")),
                          threshold=0.98,
                          iters=2, cent_mod=61, cluster_cap=2000)


def _q_ann_ivf(spark, sf_dir):
    """IVF approximate cosine top-k (scale path #2: hash-sampled centroid
    cells + n_probe nearest-cell search + exact rerank)."""
    emb = spark.table("embeddings")
    out = ivf_cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5,
                          cent_mod=31, n_probe=4)
    return out.select("qid", "nid", F.round("sim", 4).alias("sim"), "rank")


def _fixture_payloads(spark: SparkSession, payload_of: Callable[[int], bytes],
                      spread: bool) -> DataFrame:
    """(media_id long, payload binary) rows: every documents doc_id encoded
    as one media file by `payload_of(doc_id)`. `spread` repartitions the
    narrow id scan across cores for fixtures whose encode+decode is
    per-row compute. Header-only decodes do not spread: they take
    microseconds a row, so 32 Python worker spin-ups cost more than they
    recover (media_meta measured 0.27 s at 2 partitions vs 3.6 s at 32)."""
    docs = spark.table("documents").select("doc_id")
    if spread:
        docs = ensure_parallelism(docs)

    def enc(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame({"media_id": ids,
                                "payload": [payload_of(i) for i in ids]})

    return docs.mapInPandas(enc, "media_id long, payload binary")


def _q_audio_features(spark, sf_dir):
    """REAL sample-level audio decode: every doc_id becomes a PCM WAV
    carrying a deterministic int16 sawtooth; wav_sample_features locates
    the data chunk by the RIFF walk, reinterprets the raw bytes as
    samples, and computes integer-exact peak/energy/zero-crossing
    features. The oracle recomputes the SAME waveform from doc_id
    arithmetic in DuckDB (live, not a frozen fixture) -- so the hash
    verifies the full byte-level decode path end to end."""
    return wav_sample_features(
        _fixture_payloads(spark, encode_wav_pcm_fixture, spread=True))


def _q_jpeg_features(spark, sf_dir):
    """REAL baseline-JPEG decode (operators/jpeg): every doc_id becomes a
    grayscale image, encoded as a spec-conformant baseline JPEG (FDCT,
    Annex-K quantization, canonical Huffman, byte stuffing) and decoded
    back by the independent decoder direction (marker walk + file-DHT
    Huffman reconstruction + entropy decode + IDCT); integer-exact pixel
    features of the DECODED image. Every third image is encoded with a
    DRI/RSTn restart interval (doc_id % 7 + 1 MCUs) — restart files
    carry the SAME coefficients, so the frozen oracle doubles as the
    restart-path equivalence proof. Oracle: the same single-node path
    frozen at sf0.01 (tools/freeze_expected.py) — bit-identical int64s,
    so the driver hash verifies the whole codec round trip."""
    return jpeg_feature_extract(_fixture_payloads(
        spark, lambda i: encode_jpeg_gray(
            gray_fixture_pixels(i),
            restart_interval=(i % 7 + 1) if i % 3 == 0 else 0),
        spread=True))


def _q_jpeg_progressive_features(spark, sf_dir):
    """PROGRESSIVE JPEG (SOF2), BOTH profiles rotated per image: even
    media_ids use spectral selection (three scans: DC, AC 1-5, AC 6-63,
    EOBRUN), odd media_ids use SUCCESSIVE APPROXIMATION (libjpeg's
    standard 6-scan script: point-transformed first scans + per-bit
    refinement scans with T.81 G.1.2.3 correction-bit ordering). Either
    way progressive reorganizes the SAME quantized coefficients, so the
    decoded pixels — and therefore the integer features — must equal
    the baseline path EXACTLY: the oracle is the baseline jpeg_features
    frozen fixture, making the driver hash a cross-profile equivalence
    proof for BOTH progressive modes."""

    def run(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"].tolist():
                enc = (encode_jpeg_progressive_gray if int(i) % 2 == 0
                       else encode_jpeg_progressive_sa_gray)
                buf = enc(gray_fixture_pixels(int(i)))
                px = decode_jpeg_progressive_gray(buf)
                if px is not None:
                    rows.append((int(i),) + jpeg_gray_features(px))
            yield pd.DataFrame(rows, columns=list(GRAY_FEATURE_COLS))

    return (ensure_parallelism(spark.table("documents").select("doc_id"))
            .mapInPandas(run, ", ".join(f"{c} long"
                                        for c in GRAY_FEATURE_COLS)))


def _q_jpeg_color_features(spark, sf_dir):
    """REAL COLOR JPEG (operators/jpeg): RGB fixture -> interleaved
    3-component MCU encode rotating ALL THREE baseline layouts by id
    (4:4:4, 4:2:0 camera/web, 4:2:2 broadcast/video) PLUS multi-
    component PROGRESSIVE 4:4:4 (libjpeg 10-scan script) on every sixth
    id, 4:1:1 (DV layout) on ids = 5 mod 12, AND PROGRESSIVE 4:2:0 —
    the cjpeg-web-photo profile, interleaved-DC dummy blocks included —
    on ids = 7 mod 12
    -> independent decode with profile sniff (file-DHT Huffman,
    sampling-factor MCU walk / multi-scan coefficient accumulation,
    chroma upsample, YCbCr->RGB) -> integer-exact per-channel features.
    Progressive carries the same coefficients as baseline 4:4:4, so the
    frozen fixture stays the truth for those ids — the driver hash is
    the multi-component-progressive equivalence proof."""
    encs = (encode_jpeg_color, encode_jpeg_420, encode_jpeg_422)

    def pick(i):
        if i % 6 == 0:
            return encode_jpeg_progressive_color
        if i % 12 == 5:
            return encode_jpeg_411
        if i % 12 == 7:      # a 420 slot: progressive == baseline 420
            return encode_jpeg_progressive_420
        return encs[i % 3]

    return jpeg_color_feature_extract(_fixture_payloads(
        spark, lambda i: pick(i)(color_fixture_pixels(i)), spread=True))


def _q_frame_sample(spark, sf_dir):
    """Frame-sampling grid from REAL parsed MP4 durations: every doc_id
    becomes a well-formed MP4 whose mvhd carries an id-derived duration;
    frame_sample(from_payload=True) re-parses it from the raw bytes and
    emits one row per 1000 ms frame slot. LIVE id-arithmetic oracle (the
    duration round-trips exactly: 5 ms-divisible durations survive the
    timescale conversion), so a parser bug cannot cancel out."""

    def enc(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["video"] * len(ids),
                "payload": [encode_mp4_fixture(*_video_params(i))
                            for i in ids],
                "duration_ms": [None] * len(ids)})

    media = (spark.table("documents").select("doc_id")
             .mapInPandas(enc, "media_id long, kind string, "
                               "payload binary, duration_ms int"))
    return frame_sample(media, every_ms=1000, from_payload=True)


def _q_image_thumbnails(spark, sf_dir):
    """Multimodal RESIZE stage: real PNG decode -> EXACT integer 8x8 box
    resize (integral image, floor means, BT.601 integer luma) ->
    (media_id, dims, 64-cell thumb array). Oracle: the same single-node
    path frozen at sf0.01, re-derived each CI run."""
    return image_thumbnails(_fixture_payloads(
        spark, lambda i: encode_png_pixels(feature_pixels(i),
                                           filter_type=i % 5),
        spread=True))


def _q_video_features(spark, sf_dir):
    """REAL video frame decode (MJPEG-in-MP4): every doc_id becomes a
    well-formed MP4 whose mdat carries 2-4 baseline-JPEG frames split
    across two chunks; the decoder resolves the stsz/stsc/stco sample
    table (the standard 14496-12 algorithm), entropy-decodes each frame
    with the repo's pure-numpy JPEG codec, and reduces to integer-exact
    per-video features including an inter-frame |diff| motion sum.
    Oracle: the same single-node path frozen at sf0.01
    (tools/freeze_expected.py) — all-int64, bit-identical."""
    return video_frame_features(_fixture_payloads(
        spark, lambda i: encode_mjpeg_mp4_fixture(i, 2 + i % 3),
        spread=True))


def _q_media_features(spark, sf_dir):
    """REAL pixel-level features (VERDICT r4 #7): every doc_id becomes a
    deterministic RGB image (multimodal.feature_pixels), encoded as a
    real filtered+zlib'd PNG, then extract_features runs the REAL
    decoder — stdlib-zlib IDAT inflate + spec defilter + channel/luma
    feature kernel. Oracle: the same single-node kernel frozen at sf0.01
    (tools/freeze_expected.py) — float32-bit-identical, so the driver
    hash verifies the whole decode path."""
    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                px = feature_pixels(did)
                rows.append((int(did), "image",
                             encode_png_pixels(px, filter_type=int(did) % 5),
                             px.shape[1], px.shape[0], None))
            yield pd.DataFrame(rows, columns=cols)

    media = (ensure_parallelism(spark.table("documents").select("doc_id"))
             .mapInPandas(gen, MEDIA_SCHEMA))
    feats = extract_features(media)
    fcols = [F.element_at("feature", i + 1).cast("float").alias(f"f{i}")
             for i in range(16)]
    return feats.select("media_id", F.col("n_bytes").cast("bigint"), *fcols)


def _q_lang_histogram(spark, sf_dir):
    """Language distribution over transcripts (langid UDF + groupBy)."""
    return lang_distribution(spark.table("transcripts"))


def _q_lsh_buckets(spark, sf_dir):
    """Sign-bit LSH bucket ids per embedding (the ANN scale path's bucketing,
    deterministic hyperplanes) -- oracle-checkable in DuckDB."""
    cols = []
    for t in range(3):
        planes = _planes_literal(64, 6, seed=42 + t)
        cols.append(f"{lsh_bucket_expr('embedding', planes)} AS bucket{t}")
    return spark.sql(f"SELECT vec_id, {', '.join(cols)} FROM embeddings")


# media_meta dims contract: both the Spark fixture encoder and the DuckDB
# oracle derive dimensions from doc_id by this arithmetic, so the real
# header PARSER (operators/multimodal.parse_image_meta) is what the
# round-trip verifies
_MEDIA_FMTS = ("png", "gif", "jpeg")


def _media_dims(i: int) -> tuple[int, int]:
    return 16 + (i * 37) % 992, 16 + (i * 53) % 736


def _q_media_meta(spark, sf_dir):
    """REAL multimodal decode (VERDICT r3 #6): encode every doc_id as a
    minimal well-formed PNG/GIF/JPEG (public byte formats, correct PNG
    CRCs), then parse format + dimensions back out of the raw bytes with
    the header decoder. The oracle computes the same dims independently
    from doc_id arithmetic, so a parser bug cannot cancel out."""
    return decode_image_meta(_fixture_payloads(
        spark, lambda i: encode_image_fixture(i, *_media_dims(i),
                                              _MEDIA_FMTS[i % 3]),
        spread=False))


# audio_meta contract arithmetic (mirrors the media_meta pattern): both
# the WAV fixture encoder and the DuckDB oracle derive the parameters
# from doc_id, so the RIFF chunk-walk parser is what the round-trip tests
_WAV_RATES = (8000, 16000, 22050, 44100)


def _q_audio_meta(spark, sf_dir):
    """REAL audio decode: encode every doc_id as a well-formed PCM WAV
    (public RIFF byte layout), parse sample rate / channels / duration
    back out of the raw bytes; the oracle recomputes them independently
    from doc_id arithmetic."""
    return decode_audio_meta(_fixture_payloads(
        spark, lambda i: encode_wav_fixture(_WAV_RATES[i % 4], 1 + i % 2,
                                            _WAV_RATES[i % 4] // 100 + i % 50),
        spread=False))


def _q_embedding_quantize(spark, sf_dir):
    """int8 scalar quantization audit: per-vector scale + integer code
    sum + max |code| (codegen projection, no shuffle). Integer outputs
    make the cross-engine comparison exact."""
    q = quantize_embeddings(spark.table("embeddings"))
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.expr("aggregate(codes, 0, (a, c) -> a + c)").alias("code_sum"),
        F.expr("array_max(transform(codes, c -> abs(c)))").alias("code_max"))


def _q_kmeans(spark, sf_dir):
    """Deterministic k-means corpus clustering (SemDeDup prelude):
    int8-quantized codes, hash-sampled init cells, 2 Lloyd iterations
    with exact-integer centroid sums so the whole refinement is
    engine-exact. Oracle: the same two iterations unrolled in DuckDB
    SQL. Output = per-vector final (cluster, squared distance)."""
    return kmeans_assign(ensure_parallelism(spark.table("embeddings")),
                         iters=2, cent_mod=61)


def _q_top_ngrams(spark, sf_dir):
    """Corpus heavy hitters: top-25 word bigrams by document frequency
    (each doc counts a gram once -- the dedup-relevant notion). Exact
    two-level aggregate with map-side partials; ties broken by gram text
    so the result is deterministic."""
    tk = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
    grams = (f"transform(sequence(1, size({tk}) - 1), "
             f"i -> concat_ws(' ', slice({tk}, i, 2)))")
    docs = spark.table("documents").where(F.expr(f"size({tk}) >= 2"))
    return (docs
            .select(F.explode(F.expr(f"array_distinct({grams})")).alias("gram"))
            .groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.desc("df"), F.asc("gram")).limit(25))


def _q_dataset_split(spark, sf_dir):
    """Deterministic salted-hash train/val/test split (leakage-free,
    shuffle-free assignment) + per-split size audit."""
    docs = spark.table("documents")
    return (with_split(docs)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).cast("bigint").alias("n_chars")))


def _q_dataset_sample(spark, sf_dir):
    """Deterministic stratified sampling (operators/curation): per-stratum
    keep rates via a salted-hash coin — a pure codegen filter, zero
    shuffle, zero RNG state, so membership survives re-runs, repartitions
    and corpus growth. Audit: kept count + id checksum per stratum."""
    ev = spark.table("events")
    kept = stratified_sample(ev, "event_type",
                             {"click": 0.5, "view": 0.1, "purchase": 1.0},
                             id_col="event_id", default_rate=0.25)
    return (kept.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                 F.sum("event_id").cast("bigint").alias("id_checksum")))


def _q_decontam(spark, sf_dir):
    """Benchmark decontamination (operators/curation): corpus docs
    sharing any word 8-gram with the benchmark table are flagged with
    their hit count. Benchmark = every 101st doc (so flagged rows
    provably include the benchmark members themselves plus the synthetic
    near-duplicates). Ids-only rows after the explode; benchmark gram
    set broadcast, so the corpus side never shuffles before the per-doc
    count."""
    docs = ensure_parallelism(spark.table("dup_docs"))
    bench = docs.where(F.expr("doc_id % 101 = 0"))
    return contaminated_ids(docs, bench, n=8)


def _q_funnel(spark, sf_dir):
    """Ordered 3-step funnel view->click->purchase (operators/funnel):
    greedy-earliest strictly-increasing chain per user; one filtered
    partial agg per step keyed by user, no windows, no per-user
    buffering. Times are epoch microseconds (engine-exact ints)."""
    return funnel_steps(spark.table("events"),
                        ["view", "click", "purchase"])


def _q_quality_rank_filter(spark, sf_dir):
    """Adaptive per-source quality floor (operators/textstats): drop the
    bottom 25% of each source by lexical diversity via percent_rank —
    rank-based so the filter is engine-exact (no percentile
    interpolation boundary)."""
    return quality_rank_filter(spark.table("documents"), pct=0.25)


def _q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring detection (operators/dedup): every
    16-token window hashed, one count aggregate finds windows shared by
    >= 2 docs — the distributed form of Lee et al.'s exact-substring
    dedup (suffix-array-free; one (hash, id) row per corpus token, all
    aggregates map-side combinable, no candidate join)."""
    return duplicated_spans(ensure_parallelism(spark.table("dup_docs")),
                            w=16)


def _q_curation_pipeline(spark, sf_dir):
    """END-TO-END composed curation DAG — the 'a user runs their whole
    pipeline here' query: exact dedup -> benchmark decontamination ->
    per-source quality floor -> deterministic split -> per-(source,
    split) audit rollup, every stage an existing operator. All-integer
    output, one DuckDB WITH-chain oracle reproducing each stage."""
    inp = ensure_parallelism(spark.sql(
        "SELECT doc_id, text, source FROM documents UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text, source "
        "FROM documents WHERE doc_id % 3 = 0"))
    d1 = exact_dedup(inp, "text", "doc_id")
    bench = inp.where("doc_id % 101 = 0")
    d2 = decontaminate(d1, bench, n=8)
    kept = quality_rank_filter(d2, pct=0.25).select("doc_id")
    d3 = d2.join(kept, "doc_id")  # quality floor as a semi join
    tok = "size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))"
    return (with_split(d3)
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(tok)).cast("bigint").alias("n_tokens")))


def _q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup (operators/dedup): the dup_docs ingest
    batch deduped against an already-curated corpus (even doc_ids of
    documents) travelling as DISTINCT hashes only, then within itself.
    The growing-corpus production shape: curated text never re-shuffles."""
    seen = spark.table("documents").where("doc_id % 2 = 0")
    return incremental_dedup(spark.table("dup_docs"), seen)


def _q_pq_ann(spark, sf_dir):
    """PQ search by asymmetric distance (operators/similarity
    .pq_adc_topk): queries build an exact distance LUT to every codeword
    per subspace; database vectors rank by the SUM of LUT entries at
    their stored codes — floats never ride the big side. Same query set
    as ann_lsh (vec_id < 10); oracle replays the algebra in DuckDB."""
    emb = ensure_parallelism(spark.table("embeddings"))
    return pq_adc_topk(emb, emb.where(F.col("vec_id") < 10), k=5,
                       n_sub=4, cb_mod=37)


def _q_events_stream_enriched(spark, sf_dir):
    """STREAM-STATIC join driver query: the events stream enriched with
    the static customer dimension (broadcast into each micro-batch —
    stateless, the stream side never shuffles). availableNow replay must
    byte-match the plain batch join the oracle runs."""
    dim = spark.table("customer").select("c_custkey", "c_mktsegment")
    return run_enrichment_stream(spark, f"{sf_dir}/events.parquet", dim,
                                 _stream_workdir(spark, "enrich_stream"))


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window document chunking: each doc splits into 64-token
    windows at stride 48 (25% overlap) — the long-document -> training-
    context transform. Pure explode (one row per chunk, no shuffle at
    all before a sink); chunk content travels as md5 so the oracle
    verifies the exact window text. Short docs yield one full-doc chunk."""
    w, s = 64, 48
    return spark.sql(
        f"WITH t AS (SELECT doc_id, split(trim(regexp_replace(lower(text),"
        f" '\\\\s+', ' ')), ' ') AS tk FROM documents), "
        f"c AS (SELECT doc_id, size(tk) AS n_tok, "
        f"  posexplode(transform(sequence(0, "
        f"    greatest(CAST(ceil((size(tk) - {w}) / {s}.0) AS INT), 0)), "
        f"    i -> slice(tk, i * {s} + 1, {w}))) AS (chunk_idx, toks) "
        f"  FROM t) "
        f"SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, "
        f"CAST(chunk_idx * {s} + 1 AS BIGINT) AS tok_start, "
        f"CAST(size(toks) AS BIGINT) AS n_tok, "
        f"md5(concat_ws(' ', toks)) AS chunk_hash FROM c")


def _q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (operators/textstats):
    integer-exact ratio_ppm = compressed_bytes * 10^6 DIV utf8_bytes per
    document — the entropy-proxy junk detector. Oracle: the same
    single-node zlib path frozen at sf0.01 (re-derived each CI run)."""
    return compression_ratio(ensure_parallelism(spark.table("documents")))


def _q_bpe_encode(spark, sf_dir):
    """Distributed BPE tokenization (operators/tokenizer): train merges
    via ONE map-side-combinable word-count shuffle + driver-side merge
    learning on the bounded histogram (the production BPE-trainer shape
    — cost is vocabulary-sized, not corpus-sized), then encode every
    document in a single ArrowEvalPython stage with the merge ranks in
    the UDF closure (zero exchanges, per-batch distinct-word memo).
    Integer-exact stats + md5 over the piece stream.  Oracle: an
    INDEPENDENT single-node BPE frozen at sf0.01 (re-derived each CI
    run, tools/freeze_expected.py:_bpe_fixtures)."""
    docs = spark.table("documents")
    merges = train_bpe(docs, num_merges=BPE_NUM_MERGES,
                       min_count=TOK_MIN_COUNT, max_words=TOK_MAX_WORDS)
    return encode_corpus(ensure_parallelism(docs), merges)


def _q_bpe_merges(spark, sf_dir):
    """The learned BPE merge table itself (rank, left, right, merged) —
    deterministic given the corpus: ties break to the lexicographically
    smallest pair, histogram order is (count desc, word).  Same frozen
    independent-implementation oracle as bpe_encode."""
    merges = train_bpe(spark.table("documents"), num_merges=BPE_NUM_MERGES,
                       min_count=TOK_MIN_COUNT, max_words=TOK_MAX_WORDS)
    return merges_df(spark, merges)


def _q_wordpiece_encode(spark, sf_dir):
    """Distributed WordPiece tokenization (operators/tokenizer, the
    third tokenizer family): same one-shuffle histogram shape as BPE;
    the merge criterion is the WordPiece likelihood ratio
    count(ab)/(count(a)*count(b)) compared by exact integer cross
    multiplication; encode is the BERT greedy longest-match-first rule
    in a single ArrowEvalPython stage (vocab set in the UDF closure).
    Oracle: an INDEPENDENT single-node WordPiece frozen at sf0.01
    (re-derived each CI run, tools/freeze_expected
    .py:_wordpiece_fixtures)."""
    docs = spark.table("documents")
    _, vocab = train_wordpiece(docs, num_merges=WP_NUM_MERGES,
                               min_count=TOK_MIN_COUNT,
                               max_words=TOK_MAX_WORDS)
    return encode_corpus_wordpiece(ensure_parallelism(docs), vocab)


def _q_wordpiece_vocab(spark, sf_dir):
    """The learned WordPiece merge products in rank order — deterministic
    given the corpus (exact rational argmax, ties to the smaller pair).
    Same frozen independent-implementation oracle as wordpiece_encode."""
    merged, _ = train_wordpiece(spark.table("documents"),
                                num_merges=WP_NUM_MERGES,
                                min_count=TOK_MIN_COUNT,
                                max_words=TOK_MAX_WORDS)
    return wordpiece_vocab_df(spark, merged)


def _q_gopher_quality(spark, sf_dir):
    """Composite Gopher document filter (operators/curation
    .gopher_quality): word-count band, mean-word-length band, symbol
    ratio, alpha-word fraction, stop-word floor — integer-exact
    comparisons, keep verdict + first failed rule per document, pure
    codegen (zero shuffle)."""
    # stress thresholds (not the Gopher defaults) so every rule branch
    # fires on the synthetic docs and the oracle checks all reasons
    return gopher_quality(ensure_parallelism(spark.table("documents")),
                          min_words=20,
                          max_words=90, min_mean_wlen=4.3,
                          max_mean_wlen=4.7)


def _q_late_sole_suppliers(spark, sf_dir):
    """TPC-H Q21 SHAPE (multi-correlation semi + anti chain): suppliers
    who shipped an item >60 days after the order date, on multi-supplier
    orders where NO other supplier shipped that late — i.e. the sole
    cause of the delay. l_shipdate stands in for the receipt/commit
    columns the synthetic schema omits; the SHAPE (one semi join and one
    anti join, both correlated on the order key with a different-supplier
    inequality) is the optimizer path Q21 exercises. Scale: late/others
    travel as DISTINCT (orderkey, suppkey) id-pairs; all joins shuffle on
    the uniform order key; count is map-side combinable."""
    li, o, s = (spark.table("lineitem"), spark.table("orders"),
                spark.table("supplier"))
    late = (li.join(o, li.l_orderkey == o.o_orderkey)
            .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
            .select("l_orderkey", "l_suppkey").distinct())
    others = li.select("l_orderkey", "l_suppkey").distinct()
    cand = late
    # EXISTS another supplier on the same order
    cand = cand.alias("c").join(
        others.alias("x"),
        (F.col("c.l_orderkey") == F.col("x.l_orderkey"))
        & (F.col("c.l_suppkey") != F.col("x.l_suppkey")),
        "left_semi")
    # NOT EXISTS another supplier who was ALSO late on that order
    cand = cand.alias("c").join(
        late.alias("y"),
        (F.col("c.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("c.l_suppkey") != F.col("y.l_suppkey")),
        "left_anti")
    return (cand.join(F.broadcast(s), cand.l_suppkey == s.s_suppkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("numwait")))


def _q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 SHAPE (uncorrelated scalar-avg subquery + NOT EXISTS):
    customers with above-average positive balance and no HIGH-VALUE
    order (>250000; plain no-orders is empty on the synthetic data),
    rolled up by a deterministic country-code stand-in (custkey mod 7 —
    the synthetic schema has no phone column). The scalar average is a
    1-row broadcast; the NOT EXISTS test is a left_anti on the filtered
    order side's DISTINCT custkeys."""
    c, o = spark.table("customer"), spark.table("orders")
    avg_bal = (c.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("ab")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("ab")))
    big = (o.where(F.col("o_totalprice") > 250000)
           .select("o_custkey").distinct())
    idle = rich.join(big, rich.c_custkey == big.o_custkey, "left_anti")
    return (idle.groupBy((F.col("c_custkey") % 7).cast("int")
                         .alias("cgroup"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("numcust"),
                 F.sum(F.floor(F.col("c_acctbal") * 100).cast("bigint"))
                 .cast("bigint").alias("bal_cents")))


def _q_conv_state_stream(spark, sf_dir):
    """CUSTOM STATEFUL streaming operator driver query
    (applyInPandasWithState, §2.9): the transcripts replay through the
    full per-turn pipeline into per-conversation keyed state (running
    keep counters + event-time timeout); the FINAL rollup per
    conversation (counters are monotone, so max(struct) picks it) must
    equal the batch aggregation of the frozen keep_drop truth — the
    oracle groups the expected_keep_drop fixture, so the driver hash
    verifies the keyed-state fold end to end."""
    work = _stream_workdir(spark, "conv_state")
    # materialize the transcripts view as the file-source stream input
    (spark.table("transcripts")
     .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
     .write.mode("overwrite").parquet(f"{work}/src"))
    q = start_conversation_state_stream(
        spark, f"{work}/src", f"{work}/sink", f"{work}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("conversation-state replay did not finish")
    out = spark.read.parquet(f"{work}/sink")
    return (out.groupBy("conv_id")
            .agg(F.max(F.struct("n_turns", "n_keep", "keep_rate_pct",
                                "conv_alive")).alias("m"))
            .select("conv_id", F.col("m.n_turns").alias("n_turns"),
                    F.col("m.n_keep").alias("n_keep"),
                    F.col("m.keep_rate_pct").alias("keep_rate_pct"),
                    F.col("m.conv_alive").alias("conv_alive")))


def _q_pq_codes(spark, sf_dir):
    """Product quantization (operators/similarity.pq_encode): every
    embedding compressed to 4 codeword ids (nearest hash-sampled
    codeword per contiguous subspace) + the exact squared reconstruction
    residual. The 10^10-vector ANN storage recipe (IVF+PQ); oracle
    replays the identical subspace/argmin algebra in DuckDB."""
    return pq_encode(spark.table("embeddings"), n_sub=4, cb_mod=37)


def _q_dedup_keep_best(spark, sf_dir):
    """The dedup CONSUMER step: per near-dup group (minhash candidates ->
    exact verify -> connected components), keep the HIGHEST-QUALITY
    member — integer-exact rank_key = distinct_tokens * 10^6 DIV tokens,
    ties to the smallest id via one min(struct) aggregate (no window
    sort). Returns (group_id, keep_id, rank_key, n_members): exactly
    what a production dedup pass writes back."""
    docs = ensure_parallelism(spark.table("dup_docs"))
    pairs = minhash_lsh_pairs(docs, "text", "doc_id",
                              min_jaccard_pct=MIN_JACC_PCT,
                              bucket_cap=BUCKET_CAP)
    groups = connected_components(pairs)
    tk = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
    scored = docs.select(
        "doc_id",
        F.expr(f"(size(array_distinct({tk})) * 1000000L) DIV size({tk})")
        .alias("rank_key"))
    return (groups.join(scored, on="doc_id")
            .groupBy("group_id")
            .agg(F.min(F.struct((-F.col("rank_key")).alias("nr"),
                                F.col("doc_id").alias("d"))).alias("m"),
                 F.count(F.lit(1)).cast("bigint").alias("n_members"))
            .select("group_id", F.col("m.d").alias("keep_id"),
                    (-F.col("m.nr")).cast("bigint").alias("rank_key"),
                    "n_members"))


def _q_dup_span_cuts(spark, sf_dir):
    """Per-document duplicate-span CUT LIST (operators/dedup): merged
    1-based token ranges covered by any 16-token window occurring in >=2
    docs — the actionable step-2 of Lee et al. 2022 on top of dup_spans.
    Interval merging is a per-doc window; oracle replays the identical
    island algebra in DuckDB."""
    return duplicated_span_cuts(ensure_parallelism(spark.table("dup_docs")),
                                w=16)


def _q_dedup_incremental_bloom(spark, sf_dir):
    """Bloom-prefiltered incremental dedup (operators/dedup): the curated
    side's distinct hashes build a broadcast bitmap (distributed bit_or
    per 64-bit word, bounded collect); definitely-unseen batch rows skip
    the anti join entirely, maybe-seen rows (dups + FP residue) go
    through the exact verify. OUTPUT-IDENTICAL to dedup_incremental by
    construction — the oracle is the same NOT EXISTS SQL, so the driver
    hash proves the prefilter is transparent."""
    seen = spark.table("documents").where("doc_id % 2 = 0")
    return incremental_dedup_bloom(
        ensure_parallelism(spark.table("dup_docs")), seen)


def _q_corpus_shuffle(spark, sf_dir):
    """Deterministic global shuffle + sharding for training order
    (operators/curation): (shard, pos) from md5(salt:id) — the terasort
    shape, one hash exchange + per-shard sort, no global ordering."""
    return corpus_shuffle(spark.table("documents"), n_shards=8)


def _q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention (operators/cohorts): first-event-week
    cohorts x week offset -> distinct active users; integer epoch-week
    arithmetic so the DuckDB oracle is bit-exact."""
    return retention_cohorts(spark.table("events"))


def _q_user_reach(spark, sf_dir):
    """Distinct-user reach per event type (operators/cohorts): exact
    COUNT(DISTINCT) is the oracle surface; reach(approx=True) is the
    HLL++ scale path (fixed-size mergeable sketches), error-bound-tested
    against this exact twin in tests/test_operators.py."""
    return reach(spark.table("events"))


def _q_event_anomalies(spark, sf_dir):
    """Daily volume anomaly flags per event type (operators/cohorts):
    the 2-sigma rule evaluated entirely in integers via
    (n*D - S1)^2 > 4*(S2*D - S1^2) — no float boundary; one combinable
    count + a broadcast per-type rollup, no windows."""
    return daily_anomalies(spark.table("events"))


def _q_small_quantity_orders(spark, sf_dir):
    """Correlated scalar-aggregate subquery (TPC-H Q17 shape): lines
    whose quantity is below 20% of their part's average quantity.
    Engine-exact: with S = per-part integer quantity sum over n lines,
    qty < 0.2*(S/n) <=> 5*qty*n < S — all int64, no float boundary.
    Spark shape: ONE map-side-combinable agg keyed by part + a hash
    join back + a codegen filter (Catalyst would decorrelate the
    subquery to exactly this plan)."""
    li = spark.table("lineitem")
    qi = F.col("l_quantity").cast("bigint")
    per_part = (li.groupBy("l_partkey")
                .agg(F.sum(qi).alias("s"), F.count(F.lit(1)).alias("n")))
    j = li.join(per_part, "l_partkey")
    return (j.where(5 * qi * F.col("n") < F.col("s"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_small"),
                 F.sum(F.expr(
                     "CAST(FLOOR(l_extendedprice * 100) AS BIGINT)"))
                 .alias("value_cents")))


def _q_cube_revenue(spark, sf_dir):
    """CUBE grouping sets (complements order_rollup's ROLLUP): order
    counts and exact integer revenue cents over all 4 subsets of
    (priority, status). Catalyst lowers CUBE to one Expand + single
    aggregate — no re-scan per grouping set."""
    o = spark.table("orders")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
    return (o.cube("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(cents).alias("revenue_cents")))


def _q_viewers_not_buyers(spark, sf_dir):
    """Set operators EXCEPT / INTERSECT (SURVEY §2.7 completes): users
    who viewed but never purchased, and the view-AND-click overlap, as
    one unioned labeled result. Both lower to aggregate/semi-join
    shapes, not sorts."""
    return spark.sql(_VIEWERS_NOT_BUYERS_SQL)


def _q_order_distribution(spark, sf_dir):
    """Customer-order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join customer<-filtered orders, per-customer count, then the
    distribution of counts. Exercises the outer join + double
    aggregation; all-integer output."""
    c = spark.table("customer")
    o = spark.table("orders").where("o_orderpriority NOT LIKE '1%'")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def _q_big_orders(spark, sf_dir):
    """Large-volume orders (TPC-H Q18 shape): HAVING-filtered per-order
    quantity sum (exact: l_quantity is integral, summed as BIGINT), then
    joins back to orders + broadcast customer."""
    li, o, c = (spark.table("lineitem"), spark.table("orders"),
                spark.table("customer"))
    qty = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
           .where(F.col("total_qty") > 300))
    return (qty.join(o, qty.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .select("c_custkey", "o_orderkey", "total_qty",
                    F.round("o_totalprice", 2).alias("o_totalprice")))


def _q_cheapest_supplier(spark, sf_dir):
    """Min-per-group + join-back (TPC-H Q2 shape) via the one-shuffle
    argmin aggregate min(struct(acctbal, suppkey)) instead of a window
    sort — the scale-correct form of a correlated MIN subquery (no
    per-group sort; partial aggregation does the work map-side)."""
    li, s = spark.table("lineitem"), spark.table("supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    j = pairs.join(F.broadcast(s), pairs.l_suppkey == s.s_suppkey)
    agg = (j.groupBy("l_partkey")
           .agg(F.min(F.struct("s_acctbal", "s_suppkey")).alias("m")))
    out = agg.select(F.col("l_partkey").alias("p_partkey"),
                     F.col("m.s_suppkey").alias("s_suppkey"),
                     F.round(F.col("m.s_acctbal"), 2).alias("s_acctbal"))
    return (out.join(F.broadcast(s.select("s_suppkey", "s_name")),
                     "s_suppkey")
            .select("p_partkey", "s_suppkey", "s_name", "s_acctbal"))


def _q_mixture_sample(spark, sf_dir):
    """Data-mixture assembly (operators/curation): per-source keep rates
    derived from target mixture weights + a global token budget (4000
    tokens: src0 oversubscribed -> capped at 1.0, src1-3 sampled), then
    the deterministic salted-hash coin. The rates table is a k-row
    broadcast; the corpus side never shuffles."""
    return mixture_sample(spark.table("documents"),
                          {"src0": 0.5, "src1": 0.2,
                           "src2": 0.05, "src3": 0.05},
                          token_budget=4000)


def _q_tfidf_terms(spark, sf_dir):
    """Per-source characteristic terms by tf-idf (operators/curation):
    integer-exact ranking (floor(tf*1e6/df), term) so engine float
    disagreement cannot flip an ordering; top-3 per source."""
    return tfidf_top_terms(ensure_parallelism(spark.table("documents")),
                           k=3)


def _train_quality_classifier(spark):
    """Shared featurize+train for the classifier queries: featurized
    corpus persisted via the dedup cache registry (released between
    bench queries), 12 full-batch GD iterations, each one codegen scan
    + one model-sized gradient agg."""
    feat = _persist_tracked(
        C.featurize(ensure_parallelism(spark.table("documents"))))
    return feat, C.train(feat)


def _q_classifier_train(spark, sf_dir):
    """Distributed quality-classifier TRAINING (operators/classifier):
    integer-exact fixed-point logistic regression over hashed
    bag-of-words — full-batch GD where each iteration shuffles only
    dim+1 gradient rows (model-sized, not corpus-sized) and the margin
    is an in-row `aggregate` against the inlined weight literal (no
    join). The LIVE oracle replays all 12 iterations bit-for-bit as a
    DuckDB WITH-chain (classifier.train_oracle_sql) — the same
    engine-exact integer recipe as the int8 k-means centroids."""
    _, w = _train_quality_classifier(spark)
    return C.weights_df(spark, w)


def _q_classifier_score(spark, sf_dir):
    """Per-doc margin/prediction with the trained weights — one codegen
    scan past the featurize; 0.924 train accuracy vs 0.678 majority at
    sf0.01 (the gap is real sign-discriminative learning; the residual
    is hashing-trick collision noise)."""
    feat, w = _train_quality_classifier(spark)
    return C.score(feat, w)


_ZORDER_KEYS = {"a_sql": "o_custkey % 2048",
                "b_sql": "CAST(FLOOR(o_totalprice / 256) AS BIGINT) % 2048",
                "checksum_sql": "o_orderkey"}


def _q_zorder_stats(spark, sf_dir):
    """Z-order (Morton) layout envelope (operators/layout): interleave
    custkey and price-bucket bits, file = curve prefix (NO global sort /
    row-numbering — the honest 10^12-row write shape), one map-side-
    combinable agg to <=64 per-file pruning envelopes bounded in BOTH
    dimensions. Live oracle: identical bit algebra in DuckDB."""
    return zorder_stats(spark.table("orders"), **_ZORDER_KEYS)


def _q_unigram_encode(spark, sf_dir):
    """Distributed UNIGRAM-LM tokenization (operators/tokenizer,
    SentencePiece-style hard-EM/Viterbi variant): ONE word-count
    shuffle + vocabulary-sized driver-side EM where every segmentation
    score is compared in EXACT big-int arithmetic (prod(c_i)/T^k by
    cross multiplication — no floats), then a single ArrowEvalPython
    Viterbi encode with the vocab in the closure. Oracle: an
    INDEPENDENT single-node implementation of the same spec, frozen at
    sf0.01 and re-derived each CI run."""
    docs = spark.table("documents")
    vocab = train_unigram(docs, vocab_size=UNI_VOCAB_SIZE, n_iters=UNI_N_ITERS,
                          min_count=TOK_MIN_COUNT, max_words=TOK_MAX_WORDS)
    return encode_corpus_unigram(ensure_parallelism(docs), vocab)


def _q_unigram_vocab(spark, sf_dir):
    """The learned unigram vocabulary itself (piece, count) — fully
    deterministic given the corpus (exact integer EM, (count desc,
    piece) pruning order). Same independent frozen oracle."""
    vocab = train_unigram(spark.table("documents"), vocab_size=UNI_VOCAB_SIZE,
                          n_iters=UNI_N_ITERS, min_count=TOK_MIN_COUNT,
                          max_words=TOK_MAX_WORDS)
    return unigram_vocab_df(spark, vocab)


def _q_sample_exact_k(spark, sf_dir):
    """Exact-k uniform sample (operators/curation.sample_exact_k):
    global top-100 by salted md5 rank — TakeOrderedAndProject, k rows
    per partition shuffled, never the corpus (plan test pins it)."""
    return sample_exact_k(spark.table("documents"), k=100).select(
        "doc_id", "source", "sample_key")


def _q_lm_score(spark, sf_dir):
    """Corpus-trained bigram LM + stupid-backoff fluency scoring
    (operators/ngram_lm) — the CCNet/KenLM perplexity-filter stage,
    integer-exact in ppm so the DuckDB oracle replays training AND
    scoring live. min_count=2 prunes singleton grams (KenLM pruning),
    which also exercises the backoff branch on every pruned bigram."""
    return lm_score(ensure_parallelism(spark.table("documents")),
                    min_count=2)


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup + reassembly (operators/curation):
    every distinct trimmed line survives only at its first (doc_id, pos)
    occurrence; docs are rebuilt from surviving lines. Run on dup_docs
    so whole-document duplicates (the +1000000 clones) provably lose
    every line and drop out, plus organic cross-doc line collisions."""
    return dedup_paragraphs(ensure_parallelism(spark.table("dup_docs")))


def _q_seq_pack(spark, sf_dir):
    """Token-budget sequence packing (operators/curation): docs hashed
    into 8 independent blocks, greedily packed into 128-token training
    sequences in id order. Oracle: DuckDB recursive CTE replaying the
    same greedy rule step-by-step."""
    return pack_sequences(spark.table("documents"), budget=128,
                          n_blocks=8)


def _q_rep_stats(spark, sf_dir):
    """Gopher-style repetition quality stats (operators/curation):
    duplicate-line fraction (count + char mass) and the char fraction of
    the most frequent word 2-gram, per document."""
    out = repetition_stats(ensure_parallelism(spark.table("documents")))
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 4).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 4).alias("dup_line_char_frac"),
        F.round("top_2gram_char_frac", 4).alias("top_2gram_char_frac"))


def _q_event_sessions(spark, sf_dir):
    """Sessionization (gaps-and-islands): a user's events split into
    sessions at >30-minute gaps via lag + conditional running sum --
    two window passes over the same (user_id, ts) partitioning (ONE
    shuffle; Catalyst reuses the sort), then a two-level aggregate.

    Gap compare is at MICROSECOND precision (unix_micros) on both the
    Spark and DuckDB sides: the events timestamps carry fractional
    seconds, so a second-truncated unix_timestamp() diff would
    sessionize gaps within ~1s of the 1800s boundary differently from
    the stated 30-minute rule (and from the oracle). The CAST to
    TIMESTAMP relabels the parquet TIMESTAMP_NTZ values under the
    UTC session timezone, which is exact."""
    return spark.sql("""
        WITH g AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN unix_micros(CAST(ts AS TIMESTAMP))
                      - lag(unix_micros(CAST(ts AS TIMESTAMP)))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000 THEN 1
                      WHEN lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events),
        s AS (
          SELECT user_id,
                 SUM(new_sess) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM g),
        per_sess AS (
          SELECT user_id, sess_id, COUNT(*) AS n_events
          FROM s GROUP BY user_id, sess_id)
        SELECT user_id,
               CAST(COUNT(*) AS INT) AS n_sessions,
               CAST(MAX(n_events) AS INT) AS longest_session,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM per_sess GROUP BY user_id""")


def _q_event_asof(spark, sf_dir):
    """Backward as-of join (operators/asof.py): each click event picks up
    the latest prior purchase by the same user via the single-shuffle
    union+window formulation (Spark has no ASOF JOIN; DuckDB/kdb/pandas
    do). No-match and age columns coalesce to -1.0 doubles so the oracle
    hash never compares NaT vs NULL representations."""
    ev = spark.table("events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    j = asof_join_backward(clicks, purch, ["user_id"], "ts", "p_ts",
                           ["p_value"])
    age_us = (F.unix_micros(F.col("ts").cast("timestamp"))
              - F.unix_micros(F.col("ts_asof").cast("timestamp")))
    return j.select(
        "event_id", "user_id",
        F.col("value").alias("click_value"),
        F.coalesce(F.col("p_value_asof"), F.lit(-1.0)).alias("purchase_value"),
        F.coalesce(age_us / F.lit(1000000.0), F.lit(-1.0))
         .alias("purchase_age_sec"))


def _q_error_attribution(spark, sf_dir):
    """Point-in-interval range join (operators/rangejoin.py): each click
    within 2 hours after an error by the same user, as a bucketed
    equi-join on (user_id, time_bucket) + residual filter -- never a
    BroadcastNestedLoopJoin/Cartesian (plan-test pinned)."""
    ev = spark.table("events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"),
        F.col("ts").alias("err_ts"))
    j = range_join_points(clicks, errors, ["user_id"], "ts", "err_ts",
                          end_sec=7200.0)
    lag_us = (F.unix_micros(F.col("ts").cast("timestamp"))
              - F.unix_micros(F.col("err_ts").cast("timestamp")))
    return j.select("click_id", "error_id", "user_id",
                    (lag_us / F.lit(1000000.0)).alias("lag_sec"))


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: revenue by (region, nation) where the
    customer and supplier share a nation. The three dimension tables
    (nation, region, supplier at small SF -- supplier is still the
    smallest fact-side relation) broadcast; the customer-orders-lineitem
    chain shuffles on its join keys only."""
    cust = spark.table("customer")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    nat = spark.table("nation")
    reg = spark.table("region")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey)
            .join(li, F.col("o_orderkey") == li.l_orderkey)
            .join(F.broadcast(supp),
                  (li.l_suppkey == supp.s_suppkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy(F.col("r_name").alias("region"),
                     F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


def _q_order_rollup(spark, sf_dir):
    """ROLLUP aggregation (multi-level grouping sets in one pass):
    (status, priority) -> (status) -> grand total, with grouping ids so
    subtotal rows are distinguishable from genuine NULL keys."""
    return (spark.table("orders")
            .rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"),
                 F.grouping_id().cast("int").alias("gid")))


def _q_event_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (sort-based agg;
    DuckDB quantile_cont implements the same continuous estimator).

    This exact=True path exists FOR THE ORACLE: at production scale the
    default is operators.quantiles.grouped_quantiles(exact=False) — the
    mergeable bounded-memory Greenwald-Khanna approx_percentile sketch
    (rank error <= 1/accuracy, tested in tests/test_quantiles.py)."""
    return grouped_quantiles(spark.table("events"), ["event_type"], "value",
                             probs=(0.5, 0.9, 0.99), exact=True)


# video_meta contract arithmetic (mirrors media_meta/audio_meta): both
# the MP4 fixture encoder and the DuckDB oracle derive width/height/
# duration from doc_id. Odd doc_ids use timescale 600 (the classic
# QuickTime rate) with 5 ms-divisible durations so the units round-trip
# integer-exactly; even ids use timescale 1000.


def _video_params(i: int) -> tuple[int, int, int, int]:
    return (16 + (i * 41) % 1008, 16 + (i * 29) % 752,
            500 + 5 * ((i * 13) % 1900), 1000 if i % 2 == 0 else 600)


def _q_video_meta(spark, sf_dir):
    """REAL video-container decode: encode every doc_id as a minimal
    well-formed MP4 (ftyp + moov(mvhd + trak/tkhd), ISO/IEC 14496-12
    byte layout), then parse dimensions + duration back out of the raw
    bytes with the box-walk parser. The oracle recomputes them
    independently from doc_id arithmetic."""
    return decode_video_meta(_fixture_payloads(
        spark, lambda i: encode_mp4_fixture(*_video_params(i)), spread=False))


def _q_conversation_features(spark, sf_dir):
    """Grouped-map pandas UDF (applyInPandas): per-conversation ordered
    stats; oracle = equivalent window SQL in DuckDB."""
    return conversation_features(spark.table("transcripts"))


def _q_lang_spans(spark, sf_dir):
    """Per-language character+byte spans per turn (W4 chunk vector,
    ResultChunkVector), exploded to one typed row per span.

    Oracle: frozen single-node truth (tools/freeze_expected.py) — the
    same detect_batch kernel run outside Spark, persisted as parquet and
    read back by DuckDB, so the driver hash-verifies the full span
    arithmetic (typed columns, not JSON strings, so the hash is immune
    to serializer formatting)."""
    df = spark.table("transcripts")
    # posexplode_OUTER + post-filter, NOT posexplode: the inner variant
    # plants an implicit `size(spans)>0` pre-filter below the Generate,
    # which Catalyst satisfies by evaluating the UDF a SECOND time; the
    # outer variant needs no pre-filter, and the null-row filter on the
    # GENERATED column cannot sink below the Generate (plan-tested: ONE
    # ArrowEvalPython stage)
    return (df.withColumn("spans", detect_spans_udf(F.col("text")))
            .select("conv_id", "turn_idx",
                    F.posexplode_outer("spans").alias("span_idx", "s"))
            .where(F.col("span_idx").isNotNull())
            .select("conv_id", "turn_idx",
                    F.col("span_idx").cast("int").alias("span_idx"),
                    F.col("s.off").alias("off"), F.col("s.len").alias("len"),
                    F.col("s.off_b").alias("off_b"),
                    F.col("s.len_b").alias("len_b"),
                    F.col("s.lang").alias("lang")))


def _q_langid(spark, sf_dir):
    """CLD2-style langid over transcripts; oracle = frozen single-node
    detect_batch truth (tools/freeze_expected.py, sf0.01)."""
    df = spark.table("transcripts")
    # lang1 in this driver row = the per-turn answer (summary_lang); the
    # sorted top-1 and its percent ride along for inspection
    return (df.withColumn("ld", detect_summary_udf(F.col("text")))
            .select("conv_id", "turn_idx",
                    F.col("ld.summary_lang").alias("lang1"),
                    F.col("ld.pct1").alias("pct1"),
                    F.col("ld.is_reliable").alias("is_reliable")))


def _q_keep_drop(spark, sf_dir):
    """Full quality-filter pipeline (UDF -> rows-only driver check)."""
    return run_pipeline(spark.table("transcripts"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return queries()["keep_drop"](spark, "/root/testdata/sf0.001")


def _q_drop_reasons(spark, sf_dir):
    """Pipeline audit view: per-(keep, drop_reason) turn counts over the
    FULL quality-filter pipeline — the operational dashboard a corpus
    owner watches. Oracle: the same aggregation over the frozen
    keep_drop fixture (single-node truth), so this doubles as an extra
    hash gate on the live pipeline's verdict distribution. Map-side
    combinable agg over the pipeline's single Python stage."""
    return (run_pipeline(spark.table("transcripts"))
            .groupBy("keep", F.coalesce(F.col("drop_reason"), F.lit("-"))
                     .alias("drop_reason"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns")))


def _q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (operators/textstats): k=3-token
    shingle hashes, w=4 window-minimum selection with rightmost tie-break
    (Schleimer et al. 2003). Pure per-document array algebra in ONE
    codegen projection — zero shuffle, zero UDF; any shared w+k-1 token
    run between documents is guaranteed a shared fingerprint."""
    # per-shingle md5 + window minima are compute-heavy per row: spread
    # the single-file scan across cores (no-op at real scale)
    return winnow_fingerprints(ensure_parallelism(spark.table("documents")),
                               k=3, w=4)


def _q_heavy_hitters(spark, sf_dir):
    """Corpus heavy hitters (operators/sketches): exact top-30 tokens by
    occurrence next to their count-min-sketch estimates (depth 4 x width
    1024). The sketch build emits at most depth*width cell rows per map
    task into the shuffle regardless of token cardinality — the
    fixed-size mergeable scale path, with the exact aggregate as its
    verifiable twin (the user_reach HLL pairing, for frequencies)."""
    return heavy_hitters(ensure_parallelism(spark.table("documents")), k=30)


def _q_group_sample_k(spark, sf_dir):
    """Exact-k-per-group deterministic sample (operators/curation
    .sample_k_per_group): 5 docs per source by salted-md5 rank. Spark
    plans the rank<=k filter as WindowGroupLimit — each map task keeps
    its local per-group top-k BEFORE the single group-keyed shuffle, so
    heavy groups move k rows per partition, not their row count."""
    return (sample_k_per_group(spark.table("documents"), "source", 5)
            .select("source", "rk", "doc_id", "sample_key"))


def _q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top-10 undelivered-revenue orders for one market
    segment. 3-way join with the selective dim side broadcast, exact
    integer revenue (price cents x (100 - discount points) = c4 units,
    no float sum), TakeOrderedAndProject top-k — only 10 rows per
    partition ever reach the driver."""
    cut = "TIMESTAMP '1998-06-01 00:00:00'"
    c = spark.table("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders").where(F.expr(f"o_orderdate < {cut}"))
    li = spark.table("lineitem").where(F.expr(f"l_shipdate > {cut}"))
    rev = F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT) * "
                 "(100 - CAST(FLOOR(l_discount * 100) AS BIGINT))")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("order_date"))
            .agg(F.sum(rev).alias("revenue_c4"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy(F.desc("revenue_c4"), F.asc("o_orderkey"))
            .limit(10))


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus partition (operators/ngram_lm
    .ccnet_buckets, Wenzek et al. 2020): documents ordered by the
    corpus-trained bigram-LM fluency score and cut into three buckets
    each holding one third of the corpus CHARACTERS. The cumulative
    character count is an exact distributed prefix sum
    (operators/prefix.running_total: range partition + per-partition
    window + broadcast offsets — never a single-task global window);
    the tertile rule is cross-multiplied integer algebra, so the DuckDB
    oracle replays training, scoring, the scan, and the cut live."""
    return ccnet_buckets(ensure_parallelism(spark.table("documents")),
                         min_count=2)


def _q_dsir_select(spark, sf_dir):
    """DSIR importance-resampling data selection (operators/dsir, Xie et
    al. 2023): hashed uni+bigram count models over a 4096-bucket closed
    feature space — target model from the src0/src1 slice, raw model
    from the whole corpus — and per-document Laplace-smoothed
    target-vs-raw frequency-ratio weights in exact integer ppm. Both
    model fits are map-side-combinable aggregates bounded at B rows per
    map task; the <=B-row weight table travels broadcast; selection is
    TakeOrderedAndProject top-50."""
    docs = ensure_parallelism(spark.table("documents"))
    return dsir_select(docs, docs.where("source IN ('src0', 'src1')"),
                       k=50)


def _q_textrank(spark, sf_dir):
    """TextRank corpus keywords (operators/graph.textrank_keywords,
    Mihalcea & Tarau 2004): weighted PageRank over the adjacent-pair
    word co-occurrence graph, 5 rounds, integer-exact ppm damping
    850/1000 — the DuckDB oracle replays graph construction and every
    iteration live as an unrolled MATERIALIZED WITH chain. Per
    iteration: one vocabulary-sized shuffle join + one map-side
    combinable groupBy; the edge table persists once."""
    return textrank_keywords(ensure_parallelism(spark.table("documents")),
                             k=50)


def _q_kanon_grams(spark, sf_dir):
    """k-anonymous n-gram release (operators/curation.kanon_grams):
    a 3-gram is releasable only if it occurs in >= 5 DISTINCT documents
    (per-doc grams deduped in-row BEFORE the explode, so the shuffled
    rows are already (doc, gram)-unique and the distinct-doc count is a
    plain map-side-combinable count)."""
    return kanon_grams(spark.table("documents"), n=3, k_anon=5)


def _q_pmi_collocations(spark, sf_dir):
    """Top-40 PMI collocations (operators/ngram_lm.pmi_collocations,
    Church & Hanks 1990): rank key is the engine-exact integer ratio
    c(h,w)*N*10^6 DIV (c(h)*c(w)); counts reuse the bigram-LM
    aggregation, selection is TakeOrderedAndProject."""
    return pmi_collocations(spark.table("documents"), k=40)


def _context_trim_sql(dialect: str, budget: int = 40) -> str:
    """Per-conversation context-window packing: keep the maximal SUFFIX
    of turns whose total token count fits the budget — the transform
    that turns raw transcripts into model-context-sized training rows
    (most-recent-turns-win, the standard chat-truncation rule).

    Shape: ONE window over the table's native (conv_id, turn_idx)
    bucketing — a co-located sort per conversation, no extra shuffle at
    10^12 turns. The reverse cumulative token sum is an explicit
    ROWS-frame running total; kept = cum_tail <= budget."""
    toks = (_TOKS_SPARK if dialect == "spark" else _TOKS_DUCK).format(c="text")
    ln = "size" if dialect == "spark" else "len"
    return (
        f"SELECT conv_id, turn_idx, n_tokens, cum_tail, "
        f"cum_tail <= {budget} AS kept FROM ("
        f"SELECT conv_id, turn_idx, n_tokens, "
        f"CAST(SUM(n_tokens) OVER (PARTITION BY conv_id "
        f"ORDER BY turn_idx DESC "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        f"AS cum_tail FROM (SELECT conv_id, turn_idx, "
        f"CAST({ln}({toks}) AS BIGINT) AS n_tokens "
        f"FROM transcripts) ct_t) ct_s")


def _q_context_trim(spark, sf_dir):
    return spark.sql(_context_trim_sql("spark"))


# Dialect-shared SQL (no regex, no dialect-divergent functions): per-
# conversation structural-integrity audit over a deterministically
# decimated view (the modulus drop injects the gaps/adjacent-role
# repeats a real ingestion estate shows).  Flags: conversation does not
# open with a user turn, adjacent turns with the same role, turn_idx
# discontinuities.  Shape: window + groupBy on the SAME conv_id key --
# one shuffle, then co-located sort and aggregation; at 10^12 turns
# this rides the table's native conv_id bucketing.
_TURN_INTEGRITY_SQL = """
SELECT conv_id,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT)
    AS n_role_repeats,
  CAST(SUM(CASE WHEN prev_idx IS NOT NULL AND turn_idx <> prev_idx + 1
    THEN 1 ELSE 0 END) AS BIGINT) AS n_idx_gaps,
  MAX(CASE WHEN rn = 1 AND role <> 'user' THEN TRUE ELSE FALSE END)
    AS bad_start
FROM (
  SELECT conv_id, turn_idx, role,
    LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
    LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prev_idx,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM (SELECT conv_id, turn_idx, role FROM transcripts
        WHERE (CAST(substring(conv_id, 2) AS INT) + turn_idx * 3) % 7
              <> 0) ti_k
) ti_w GROUP BY conv_id"""


def _q_turn_integrity(spark, sf_dir):
    return spark.sql(_TURN_INTEGRITY_SQL)


def _q_kcenter(spark, sf_dir):
    """Greedy k-center diversity selection (Gonzalez farthest-point
    traversal) over int8-quantized embeddings — exact BIGINT distances,
    centers travel as codegen literals, the assignment is one shuffle-
    free projection (operators/similarity.kcenter_select)."""
    return kcenter_select(ensure_parallelism(spark.table("embeddings")), k=6)


# planted near-duplicate conversations: every conversation plus a copy
# (conv_id prefixed 'd') missing ~1/5 of its turns by a deterministic
# modulus — the re-crawled/re-imported-chat-log shape conversation-level
# dedup exists for. Dialect-shared SQL over the transcripts view.
_DUP_CONVS_SQL = (
    "SELECT conv_id, text FROM transcripts "
    "UNION ALL "
    "SELECT 'd' || conv_id AS conv_id, text FROM transcripts "
    "WHERE (turn_idx * 3 + length(text)) % 5 <> 0")


# Dialect-shared SQL: corpus-wide tool-call transition matrix over the
# agent-transcript `tool` column (the input-hint field no other analytic
# exercises) — Markov (prev_tool -> tool) counts plus how many distinct
# conversations exhibit each transition. '^' marks conversation start,
# '-' a turn with no tool call, so LAG's two NULL meanings stay distinct.
# Shape: one window on the native conv_id keying, then a tool-vocab^2
# sized groupBy — map-side combinable, shuffle output is tiny.
_TOOL_TRANSITIONS_SQL = """
SELECT prev_tool, tool,
  CAST(COUNT(*) AS BIGINT) AS n_transitions,
  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM (
  SELECT conv_id, COALESCE(tool, '-') AS tool,
    CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
              = 1 THEN '^'
         ELSE COALESCE(LAG(tool) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx), '-') END
      AS prev_tool
  FROM transcripts) tt_w
GROUP BY prev_tool, tool"""


def _q_tool_transitions(spark, sf_dir):
    return spark.sql(_TOOL_TRANSITIONS_SQL)


def _conv_pacing_sql(dialect: str) -> str:
    """Per-conversation pacing over the `ts` input-hint column (the last
    hint field without a batch analytic) — inter-turn gap extremes/total
    and wall duration in exact integer epoch seconds. Shape: one LAG
    window + one groupBy, both on the native conv_id key. Only the
    epoch-seconds extractor differs by dialect."""
    es = ("CAST(unix_timestamp(ts) AS BIGINT)" if dialect == "spark"
          else "CAST(epoch(ts) AS BIGINT)")
    return f"""
SELECT conv_id,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
  CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
  CAST(MAX(es) - MIN(es) AS BIGINT) AS duration_s
FROM (
  SELECT conv_id, es,
    COALESCE(es - LAG(es) OVER (PARTITION BY conv_id ORDER BY turn_idx),
             0) AS gap_s
  FROM (SELECT conv_id, turn_idx, {es} AS es FROM transcripts) cp_e
) cp_w GROUP BY conv_id"""


def _q_conv_pacing(spark, sf_dir):
    return spark.sql(_conv_pacing_sql("spark"))


def _q_session_windows(spark, sf_dir):
    """Spark's BUILT-IN session_window operator (the native dynamic-gap
    session aggregation, usable identically under Structured Streaming
    state) — complements `event_sessions`, which builds the same
    sessions manually via gaps-and-islands. 300 s gap; per (user,
    session) event count and window bounds in epoch seconds. The DuckDB
    oracle derives the identical sessions with the islands recipe
    (session end = last event + gap, per the session_window contract)."""
    return spark.sql(
        "SELECT user_id, "
        "CAST(unix_timestamp(session_window.start) AS BIGINT) AS w_start, "
        "CAST(unix_timestamp(session_window.end) AS BIGINT) AS w_end, "
        "CAST(COUNT(*) AS BIGINT) AS n_events "
        "FROM events "
        "GROUP BY user_id, session_window(ts, '300 seconds')")


def _session_windows_oracle() -> str:
    """Islands replica at FULL microsecond precision (session_window
    merges on event-time micros, not whole seconds; the events fixture
    carries sub-second components). Spark merges an event landing
    EXACTLY on the previous window end (inclusive comparison — pinned
    by tests/test_selection.py's edge case), so a new session starts
    only when the gap strictly exceeds 300 s. The published bounds are
    floored to epoch seconds to match Spark's unix_timestamp."""
    return """
WITH sw_e AS (
  SELECT user_id, epoch_us(ts) AS eu FROM events),
sw_m AS (
  SELECT user_id, eu,
    CASE WHEN eu - LAG(eu) OVER (PARTITION BY user_id ORDER BY eu)
              > 300000000 THEN 1
         WHEN LAG(eu) OVER (PARTITION BY user_id ORDER BY eu) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM sw_e),
sw_g AS (
  SELECT user_id, eu,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY eu
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM sw_m)
SELECT user_id,
  CAST(MIN(eu) // 1000000 AS BIGINT) AS w_start,
  CAST((MAX(eu) + 300000000) // 1000000 AS BIGINT) AS w_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM sw_g GROUP BY user_id, sid"""


# tokens that actually occur in the synthetic corpus, so both branches
# of the keep verdict are exercised
_BLOCKLIST = ["slow", "hash", "panic"]
_SEARCH_QUERY = ["shuffle", "spark", "window", "merge"]

# normalization workload: the ASCII corpus gets a deterministic
# non-ASCII + control-char suffix — even ids take COMPOSED e-acute
# (U+00E9), odd ids the DECOMPOSED pair (e + U+0301), both plus a BEL;
# after strip+NFC every pair of adjacent ids must hash identically, so
# the oracle exercises real composition work. The non-ASCII characters
# are embedded as UTF-8 literal bytes (both parsers accept them);
# Spark's chr() is ASCII-MODULAR (chr(769) = chr(1)!) so it is only
# safe for the BEL.
_NORM_TEXT = ("text || CASE WHEN doc_id % 2 = 0 THEN '\u00e9' "
              "ELSE 'e\u0301' END || chr(7)")


def _role_share_sql(dialect: str) -> str:
    """Per-conversation token share by role in exact integer ppm — the
    transcript-balance audit (an SFT corpus wants assistant-heavy
    conversations; a tool-spam conversation shows up as tool_ppm ~10^6).
    One groupBy on the native conv_id key; the per-role conditional
    sums are map-side combinable."""
    toks = (_TOKS_SPARK if dialect == "spark" else _TOKS_DUCK).format(
        c="text")
    ln = "size" if dialect == "spark" else "len"
    n = f"CAST({ln}({toks}) AS BIGINT)"
    share = ("CAST(CASE WHEN total = 0 THEN 0 ELSE "
             "({c} * 1000000) {d} total END AS BIGINT)")
    d = "DIV" if dialect == "spark" else "//"
    return f"""
SELECT conv_id, CAST(total AS BIGINT) AS total_tokens,
  {share.format(c='u', d=d)} AS user_ppm,
  {share.format(c='a', d=d)} AS assistant_ppm,
  {share.format(c='t', d=d)} AS tool_ppm
FROM (
  SELECT conv_id, SUM({n}) AS total,
    SUM(CASE WHEN role = 'user' THEN {n} ELSE 0 END) AS u,
    SUM(CASE WHEN role = 'assistant' THEN {n} ELSE 0 END) AS a,
    SUM(CASE WHEN role = 'tool' THEN {n} ELSE 0 END) AS t
  FROM transcripts GROUP BY conv_id) rs_a"""


def _q_role_share(spark, sf_dir):
    return spark.sql(_role_share_sql("spark"))


def _dataset_card_sql(dialect: str) -> str:
    """One-row corpus summary (the dataset-card metrics block): doc and
    source counts, total tokens, mean doc length in exact milli-tokens.
    Single map-side-combinable global aggregate."""
    toks = (_TOKS_SPARK if dialect == "spark" else _TOKS_DUCK).format(
        c="text")
    ln = "size" if dialect == "spark" else "len"
    d = "DIV" if dialect == "spark" else "//"
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(SUM(CAST({ln}({toks}) AS BIGINT)) AS BIGINT) AS total_tokens,
  CAST((SUM(CAST({ln}({toks}) AS BIGINT)) * 1000) {d} COUNT(*)
    AS BIGINT) AS mean_tokens_milli,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE text IS NOT NULL"""


def _q_dataset_card(spark, sf_dir):
    return spark.sql(_dataset_card_sql("spark"))


def _q_key_skew(spark, sf_dir):
    """Shuffle-key skew pre-flight (operators/textstats
    .key_skew_report): top event keys by row count with exact ppm share
    and vs-mean load ratio — one combinable count + a broadcast 1-row
    total, never a key-space sort. event_type has 5 hot values, so the
    report shows real imbalance."""
    return key_skew_report(spark.table("events"), "event_type", top=10)


def _q_length_histogram(spark, sf_dir):
    """Corpus length distribution in exact log2 buckets (operators/
    textstats.length_histogram): bucket = length(bin(n)) - 1, integer
    string algebra in both engines — no float log at the boundary."""
    return length_histogram(spark.table("documents"))


def _q_normalize_text(spark, sf_dir):
    """Unicode NFC canonicalization audit (operators/textstats
    .normalize_text_stats): control strip + NFC compose via stdlib
    unicodedata in one Arrow stage; the DuckDB oracle recomputes with
    its NATIVE nfc_normalize — two independent Unicode implementations
    must agree per row."""
    docs = spark.sql(
        f"SELECT doc_id, {_NORM_TEXT} AS text FROM documents")
    return normalize_text_stats(docs)


def _q_tfidf_search(spark, sf_dir):
    """Inverted-index ranked retrieval (operators/textstats
    .tfidf_search): integer tf-idf scoring against a literal query term
    set — the corpus is filtered to query terms in-row before the
    explode, so the shuffle carries query-sized hits only."""
    return tfidf_search(spark.table("documents"), _SEARCH_QUERY, k=20)


def _q_blocklist(spark, sf_dir):
    """C4-style token blocklist (operators/textstats.blocklist_hits):
    exact-token matching against an inline literal list in one codegen
    projection — zero shuffle."""
    return blocklist_hits(spark.table("documents"), _BLOCKLIST)


def _q_lexical_diversity(spark, sf_dir):
    """Unbiased Simpson repeat index in exact integer ppm (operators/
    textstats.lexical_diversity) — the log-free diversity/degeneracy
    quality signal; one (doc, token) combinable count + one doc agg."""
    return lexical_diversity(spark.table("documents"))


def _q_gif_features(spark, sf_dir):
    """REAL GIF pixel decode (operators/gif.py): every doc_id becomes a
    conformant GIF89a (16-color global table, real variable-width LZW,
    interlaced for odd ids, a graphic-control extension for ids % 3 ==
    0), decoded by the GENERAL decoder (extension skip, local-table
    support, de-interlace, code==next special case) into integer-exact
    channel sums plus a raster-position-weighted red sum. Oracle: LIVE
    id-arithmetic DuckDB replay of the pixel rule — no codec on the
    oracle side, so the hash verifies the whole LZW chain."""
    return gif_frame_features(
        _fixture_payloads(spark, encode_gif_fixture, spread=True))


def _q_soft_dedup(spark, sf_dir):
    """Soft dedup over the planted-duplicate corpus (operators/dedup
    .soft_dedup_weights): every copy kept at integer weight 10^6 DIV k
    ppm — one text-hash window exchange, no join-back."""
    return soft_dedup_weights(spark.table("dup_docs"))


def _q_rep_battery(spark, sf_dir):
    """Full Gopher repetition n-gram battery (operators/curation
    .rep_ngram_battery): top-n-gram and dup-n-gram character mass for
    n=2..10 in exact integer ppm, one in-row gram projection + two
    doc-keyed map-side-combinable aggregations."""
    # ensure_parallelism: the single-file documents scan arrives as 1
    # partition, serializing the gram projection onto one core
    # (measured 7.5 s -> 1.7 s at sf0.1/local[32]; no-op at real scale)
    return rep_ngram_battery(ensure_parallelism(spark.table("documents")))


def _q_conv_dedup(spark, sf_dir):
    """Conversation-level near-dup pairs (operators/dedup
    .conv_dedup_pairs): distinct turn-hash sets per conversation, then
    the inverted-index + df-cap + exact-Jaccard verify shape shared with
    ngram_jaccard_pairs, generalized to arbitrary item sets
    (itemset_jaccard_pairs)."""
    return conv_dedup_pairs(spark.sql(_DUP_CONVS_SQL))


def _conv_dedup_oracle() -> str:
    """LIVE DuckDB replica: same dup view, same index/prune/verify."""
    return f"""{_duck_ctes()}, dc AS ({_DUP_CONVS_SQL}),
cdp_it AS (SELECT DISTINCT conv_id AS id,
           md5(coalesce(text, '')) AS h FROM dc),
cdp_sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n
           FROM cdp_it GROUP BY id),
cdp_kp AS (SELECT h FROM cdp_it GROUP BY h
           HAVING COUNT(*) BETWEEN 2 AND 64),
cdp_cd AS (SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS INT) AS common
           FROM cdp_it x JOIN cdp_kp USING (h) JOIN cdp_it y USING (h)
           WHERE x.id < y.id GROUP BY x.id, y.id HAVING COUNT(*) >= 2),
cdp_iv AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS inter
           FROM cdp_it x JOIN cdp_it y USING (h) WHERE x.id < y.id
           GROUP BY x.id, y.id)
SELECT c.a, c.b, c.common,
  CAST(FLOOR(v.inter * 100 / (sa.n + sb.n - v.inter)) AS INT) AS jacc_pct
FROM cdp_cd c JOIN cdp_iv v ON c.a = v.a AND c.b = v.b
JOIN cdp_sz sa ON c.a = sa.id JOIN cdp_sz sb ON c.b = sb.id
WHERE FLOOR(v.inter * 100 / (sa.n + sb.n - v.inter)) >= 50"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract: the correctness gate checks the FIRST 50 entries in
    dict order.  The window ROTATES between rounds so every query family
    eventually gets a hard driver artifact (VERDICT r6 #2): round 7 keeps
    the langid/keep_drop flagships at positions 1-2 and fills slots 3-50
    with queries that had no driver row in round 6; the queries checked by
    the round-6 driver sit past position 50 this round, still covered by
    tools/check_contract.py + pytest. Every entry registers the driver
    views before its builder runs (_registered)."""
    builders = {
        # -- driver window (first 50): rotated for round 7 so the driver's
        # correctness artifact covers queries that had no driver row in
        # round 6 (VERDICT r6 next-round #2). langid/keep_drop stay at
        # positions 1-2; slots 3-50 draw from the 77 r6-unchecked queries;
        # every query remains declared and oracle-checked either way.
        "langid": _q_langid,
        "keep_drop": _q_keep_drop,
        "minhash_signatures": _q_minhash_signatures,
        "events_windowed": _q_events_windowed,
        "brand_revenue": _q_brand_revenue,
        "regional_revenue": _q_regional_revenue,
        "order_rollup": _q_order_rollup,
        "small_quantity_orders": _q_small_quantity_orders,
        "big_orders": _q_big_orders,
        "ann_cosine": _q_ann_cosine,
        "ann_ivf": _q_ann_ivf,
        "lsh_buckets": _q_lsh_buckets,
        "top_ngrams": _q_top_ngrams,
        "user_reach": _q_user_reach,
        "retention_cohorts": _q_retention_cohorts,
        "dataset_sample": _q_dataset_sample,
        "embedding_quantize": _q_embedding_quantize,
        "priority_semijoin": _q_priority_semijoin,
        "audio_meta": _q_audio_meta,
        "video_meta": _q_video_meta,
        "jpeg_features": _q_jpeg_features,
        "lang_histogram": _q_lang_histogram,
        "conversation_features": _q_conversation_features,
        "dedup_incremental_bloom": _q_dedup_incremental_bloom,
        "dup_span_cuts": _q_dup_span_cuts,
        "pq_codes": _q_pq_codes,
        "pq_ann": _q_pq_ann,
        "events_stream_enriched": _q_events_stream_enriched,
        "late_sole_suppliers": _q_late_sole_suppliers,
        "idle_rich_customers": _q_idle_rich_customers,
        "gopher_quality": _q_gopher_quality,
        "sft_pairs": _q_sft_pairs,
        "doc_chunks": _q_doc_chunks,
        "jpeg_progressive_features": _q_jpeg_progressive_features,
        "dedup_keep_best": _q_dedup_keep_best,
        "conv_state_stream": _q_conv_state_stream,
        "compression_ratio": _q_compression_ratio,
        "image_thumbnails": _q_image_thumbnails,
        "frame_sample": _q_frame_sample,
        "toxicity": _q_toxicity,
        "bpe_merges": _q_bpe_merges,
        "classifier_score": _q_classifier_score,
        "lm_score": _q_lm_score,
        "sample_exact_k": _q_sample_exact_k,
        "unigram_encode": _q_unigram_encode,
        "unigram_vocab": _q_unigram_vocab,
        "cheapest_supplier": _q_cheapest_supplier,
        "event_anomalies": _q_event_anomalies,
        "rep_stats": _q_rep_stats,
        "corpus_shuffle": _q_corpus_shuffle,
        # ===== position 50+: covered by the r6 driver artifact and/or
        # tools/check_contract.py + pytest this round =====
        "lang_spans": _q_lang_spans,
        "scrub_pii": _q_scrub_pii,
        "quality_flags": _q_quality_flags,
        "strip_html": _q_strip_html,
        "turn_window": _q_turn_window,
        "conv_rollup": _q_conv_rollup,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "dedup_exact": _q_dedup_exact,
        "minhash_pairs": _q_minhash_pairs,
        "dedup_groups": _q_dedup_groups,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_embedding": _q_dedup_embedding,
        "dup_spans": _q_dup_spans,
        "dedup_incremental": _q_dedup_incremental,
        "paragraph_dedup": _q_paragraph_dedup,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "ann_lsh": _q_ann_lsh,
        "kmeans_clusters": _q_kmeans,
        "semdedup": _q_semdedup,
        "token_stats": _q_token_stats,
        "heavy_hitters": _q_heavy_hitters,
        "group_sample_k": _q_group_sample_k,
        "dataset_split": _q_dataset_split,
        "decontam": _q_decontam,
        "seq_pack": _q_seq_pack,
        "quality_rank_filter": _q_quality_rank_filter,
        "ccnet_buckets": _q_ccnet_buckets,
        "dsir_select": _q_dsir_select,
        "kanon_grams": _q_kanon_grams,
        "curation_pipeline": _q_curation_pipeline,
        "zorder_stats": _q_zorder_stats,
        "textrank_keywords": _q_textrank,
        "classifier_train": _q_classifier_train,
        "bpe_encode": _q_bpe_encode,
        "events_stream": _q_events_stream,
        "events_stream_join": _q_events_stream_join,
        "event_quantiles": _q_event_quantiles,
        "event_sessions": _q_event_sessions,
        "event_asof": _q_event_asof,
        "error_attribution": _q_error_attribution,
        "funnel": _q_funnel,
        "media_meta": _q_media_meta,
        "media_features": _q_media_features,
        "audio_features": _q_audio_features,
        "jpeg_color_features": _q_jpeg_color_features,
        "video_features": _q_video_features,
        "viewers_not_buyers": _q_viewers_not_buyers,
        "shipping_priority": _q_shipping_priority,
        "order_distribution": _q_order_distribution,
        "cube_revenue": _q_cube_revenue,
        "tfidf_terms": _q_tfidf_terms,
        "mixture_sample": _q_mixture_sample,
        "pmi_collocations": _q_pmi_collocations,
        "context_trim": _q_context_trim,
        "turn_integrity": _q_turn_integrity,
        "kcenter_select": _q_kcenter,
        "wordpiece_encode": _q_wordpiece_encode,
        "wordpiece_vocab": _q_wordpiece_vocab,
        "conv_dedup": _q_conv_dedup,
        "rep_ngram_battery": _q_rep_battery,
        "tool_transitions": _q_tool_transitions,
        "soft_dedup": _q_soft_dedup,
        "gif_features": _q_gif_features,
        "blocklist_hits": _q_blocklist,
        "lexical_diversity": _q_lexical_diversity,
        "conv_pacing": _q_conv_pacing,
        "session_windows": _q_session_windows,
        "tfidf_search": _q_tfidf_search,
        "events_stream_sessions": _q_events_stream_sessions,
        "drop_reasons": _q_drop_reasons,
        "normalize_text": _q_normalize_text,
        "key_skew": _q_key_skew,
        "length_histogram": _q_length_histogram,
        "role_share": _q_role_share,
        "dataset_card": _q_dataset_card,
    }
    return {name: _registered(b) for name, b in builders.items()}


def _minhash_duck_ctes() -> str:
    """DuckDB CTEs mirroring operators.dedup.minhash_signatures/_lsh_pairs
    (int64 hash-set Jaccard verification)."""
    bands = minhash_band_exprs("duckdb", "hs")
    band_cols = ", ".join(f"{e} AS band{b}" for b, e in enumerate(bands))
    assert str(MERSENNE31) in bands[0]
    stacked = " UNION ALL ".join(
        f"SELECT '{b}|' || band{b} AS band_key, doc_id AS id FROM mh_sigs"
        for b in range(N_BANDS))
    return (
        f"mh_base AS (SELECT doc_id, list_distinct({_SHINGLE_DUCK}) AS st "
        f"  FROM dup_docs WHERE length(text) >= 5), "
        f"mh_hs AS (SELECT doc_id, st, "
        f"  list_transform(st, s -> {shingle_hash_expr('s', 'duckdb')}) AS hs, "
        f"  list_distinct(list_transform(st, s -> "
        f"    {shingle_hash_expr('s', 'duckdb')})) AS hset "
        f"  FROM mh_base), "
        f"mh_sigs AS (SELECT doc_id, {band_cols} FROM mh_hs), "
        f"mh_stacked AS ({stacked}), "
        f"{_capped_pairs_duck('mh_stacked')}")


def _simhash_duck_ctes() -> str:
    """DuckDB CTEs recomputing operators.dedup.simhash62_batch in SQL."""

    def horner(p: int) -> str:
        e = "cp[CAST(i AS INT)]"
        for j in range(1, 5):
            e = f"(({e}) * {p} + cp[CAST(i AS INT) + {j}]) % {MERSENNE31}"
        return e

    majority = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hl, h -> ((h >> {j}) & 1) = 1)) "
        f"> len(hl) THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(SIMHASH_BITS))
    stacked = " UNION ALL ".join(
        f"SELECT '{b}_' || CAST((fp >> {shift}) & {mask} AS VARCHAR) AS band_key, "
        f"doc_id AS id FROM sh_fp"
        for b, (shift, mask) in enumerate(SIMHASH_BANDS))
    return (
        f"sh_cp AS (SELECT doc_id, list_transform(split(text, ''), "
        f"  x -> CAST(unicode(x) AS BIGINT)) AS cp "
        f"  FROM dup_docs WHERE length(text) >= 5), "
        f"sh_h AS (SELECT doc_id, list_transform(range(1, len(cp) - 3), "
        f"  i -> ({horner(SIMHASH_P1)}) | (({horner(SIMHASH_P2)}) << 31)) AS hl "
        f"  FROM sh_cp), "
        f"sh_fp AS (SELECT doc_id, {majority} AS fp FROM sh_h), "
        f"sh_stacked AS ({stacked}), "
        f"{_capped_pairs_duck('sh_stacked')}")


def _duck_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")


def _duck_norm(a: str) -> str:
    return (f"sqrt(list_sum(list_transform({a}, "
            f"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))")


# squared distance between a subspace slice `a.v` and a codeword `b.cv`
_PQ_D2 = ("list_sum(list_transform(list_zip(a.v, b.cv), p -> "
          "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
          "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))")


def _pq_duck_prelude(n_sub: int, cb_mod: int) -> str:
    """The WITH-list head both PQ oracles share: every vector's subspace
    slices (1-based inclusive list slice mirrors Spark's slice()), the
    hash-sampled codebook, and each slice's distance to every codeword of
    its subspace (pq_d)."""
    h = hash_id_expr("vec_id", "duckdb")
    sl = ("list_transform(embedding[s * (len(embedding) // {ns}) + 1 : "
          "s * (len(embedding) // {ns}) + (len(embedding) // {ns})], "
          "x -> CAST(x AS DOUBLE))").format(ns=n_sub)
    return (
        f"WITH pq_n AS (SELECT unnest(range(0, {n_sub})) AS s), "
        f"pq_sub AS (SELECT vec_id, s, {sl} AS v "
        f"  FROM embeddings CROSS JOIN pq_n), "
        f"pq_cb AS (SELECT vec_id AS cw, s, {sl} AS cv "
        f"  FROM embeddings CROSS JOIN pq_n WHERE {h} % {cb_mod} = 0), "
        f"pq_d AS (SELECT a.vec_id, a.s, b.cw, {_PQ_D2} AS d2 "
        f"  FROM pq_sub a JOIN pq_cb b USING (s)), ")


def _pq_duck_sql(n_sub: int = 4, cb_mod: int = 37) -> str:
    """DuckDB replay of operators.similarity.pq_encode: same hash-sampled
    codebook, same contiguous subspace slicing, same left-to-right double
    sum, same (d2, cw) argmin tie-break."""
    return (
        f"{_pq_duck_prelude(n_sub, cb_mod)}"
        f"pq_a AS (SELECT vec_id, s, cw, d2 FROM pq_d "
        f"  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s "
        f"  ORDER BY d2, cw) = 1) "
        f"SELECT vec_id, list(CAST(cw AS BIGINT) ORDER BY s) AS codes, "
        f"ROUND(list_sum(list(d2 ORDER BY s)), 6) AS dist "
        f"FROM pq_a GROUP BY vec_id")


def _pq_ann_duck_sql(k: int = 5, n_sub: int = 4, cb_mod: int = 37,
                     q_max: int = 10) -> str:
    """DuckDB replay of pq_adc_topk over the same <q_max query ids:
    shares _pq_duck_sql's CTE structure; the ADC sum folds LUT entries
    in subspace order (list_sum over an ORDER BY s list) to match the
    Spark side's deterministic fold."""
    qd2 = _PQ_D2.replace("a.v", "q.v")
    return (
        f"{_pq_duck_prelude(n_sub, cb_mod)}"
        f"pq_a AS (SELECT vec_id, s, cw FROM pq_d "
        f"  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s "
        f"  ORDER BY d2, cw) = 1), "
        f"pq_lut AS (SELECT q.vec_id AS qid, q.s, b.cw, {qd2} AS qd2 "
        f"  FROM pq_sub q JOIN pq_cb b USING (s) "
        f"  WHERE q.vec_id < {q_max}), "
        f"pq_sc AS (SELECT l.qid, a.vec_id AS nid, "
        f"  ROUND(list_sum(list(l.qd2 ORDER BY a.s)), 6) AS adist, "
        f"  COUNT(*) AS nsub "
        f"  FROM pq_a a JOIN pq_lut l ON a.s = l.s AND a.cw = l.cw "
        f"  WHERE a.vec_id <> l.qid GROUP BY l.qid, a.vec_id) "
        f"SELECT qid, nid, adist, CAST(ROW_NUMBER() OVER ("
        f"  PARTITION BY qid ORDER BY adist, nid) AS INT) AS rank "
        f"FROM pq_sc WHERE nsub = {n_sub} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY qid "
        f"  ORDER BY adist, nid) <= {k}")


def _kmeans_duck_sql(iters: int = 2, cent_mod: int = 61) -> str:
    """DuckDB replay of operators.similarity.kmeans_assign: int8 codes,
    hash-sampled init, `iters` Lloyd rounds unrolled as CTE pairs
    (assign -> integer-sum centroid update). Every arithmetic step is
    the exact analogue of the Spark expression (see kmeans_assign's
    docstring for why this is engine-exact)."""
    def dist(cent: str) -> str:
        d = "(CAST(v.codes[i] AS DOUBLE) - c.s[i] / c.n)"
        return (f"SELECT v.vec_id, v.codes, c.cell, "
                f"list_sum(list_transform(generate_series(1, "
                f"len(v.codes)), i -> {d} * {d})) AS dist "
                f"FROM km_c v CROSS JOIN {cent} c")

    def argmin(d: str) -> str:
        return (f"SELECT vec_id, codes, cell, dist FROM ("
                f"SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id "
                f"ORDER BY dist ASC, cell ASC) AS rn FROM {d}) "
                f"WHERE rn = 1")

    ctes = [
        ("km_q", "SELECT vec_id, list_max(list_transform(embedding, "
                 "x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale, "
                 "embedding FROM embeddings"),
        ("km_c", "SELECT vec_id, CASE WHEN scale = 0 THEN "
                 "list_transform(embedding, x -> 0) ELSE "
                 "list_transform(embedding, x -> CAST(round("
                 "CAST(x AS DOUBLE) / scale) AS INTEGER)) END AS codes "
                 "FROM km_q"),
        ("km_cent0", "SELECT vec_id AS cell, list_transform(codes, "
                     "x -> CAST(x AS BIGINT)) AS s, "
                     "CAST(1 AS BIGINT) AS n FROM km_c WHERE "
                     "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), "
                     f"1, 15))::BIGINT % {cent_mod} = 0"),
        ("km_a1", argmin(f"({dist('km_cent0')})")),
    ]
    for it in range(2, iters + 1):
        p = it - 1
        ctes += [
            (f"km_s{p}",
             f"SELECT cell, pos, CAST(SUM(x) AS BIGINT) AS sx FROM ("
             f"SELECT cell, unnest(generate_series(1, len(codes))) "
             f"AS pos, unnest(codes) AS x FROM km_a{p}) "
             f"GROUP BY cell, pos"),
            (f"km_cent{p}",
             f"SELECT t.cell, list(sx ORDER BY pos) AS s, cn.n "
             f"FROM km_s{p} t JOIN (SELECT cell, "
             f"CAST(COUNT(*) AS BIGINT) AS n FROM km_a{p} "
             f"GROUP BY cell) cn ON t.cell = cn.cell "
             f"GROUP BY t.cell, cn.n"),
            (f"km_a{it}", argmin(f"({dist(f'km_cent{p}')})")),
        ]
    body = ", ".join(f"{name} AS ({sql})" for name, sql in ctes)
    return (f"WITH {body} SELECT vec_id, cell AS cluster, "
            f"ROUND(dist, 4) AS dist FROM km_a{iters}")


def _semdedup_duck_sql(threshold: float, iters: int = 2,
                       cent_mod: int = 61, cluster_cap: int = 2000) -> str:
    """DuckDB replay of operators.similarity.semdedup_pairs: the kmeans
    CTE chain over dup_embs, then intra-cluster exact-cosine pairs."""
    km = _kmeans_duck_sql(iters, cent_mod)
    # graft onto dup_embs (defined in _duck_ctes) and keep composing
    # CTEs after the kmeans chain
    km_body = (km[: km.rindex(" SELECT vec_id, cell AS cluster,")]
               .replace("FROM embeddings", "FROM dup_embs")
               .removeprefix("WITH "))
    dot = _duck_dot("x.embedding", "y.embedding")
    nx, ny = _duck_norm("x.embedding"), _duck_norm("y.embedding")
    return (
        f"{_duck_ctes()}, {km_body}, "
        f"sd_ok AS (SELECT cell FROM km_a{iters} GROUP BY cell "
        f"  HAVING COUNT(*) <= {cluster_cap}), "
        f"sd_e AS (SELECT a.vec_id, a.cell, e.embedding "
        f"  FROM km_a{iters} a JOIN dup_embs e USING (vec_id) "
        f"  JOIN sd_ok USING (cell)), "
        f"sd_p AS (SELECT x.vec_id AS a, y.vec_id AS b, "
        f"  {dot} / ({nx} * {ny}) AS sim "
        f"  FROM sd_e x JOIN sd_e y "
        f"  ON x.cell = y.cell AND x.vec_id < y.vec_id) "
        f"SELECT a, b, ROUND(sim, 4) AS sim FROM sd_p "
        f"WHERE sim >= {threshold}")


def _dedup_embedding_duck_ctes() -> str:
    """DuckDB CTEs mirroring operators.similarity.embedding_dup_pairs
    (2 tables x 8 planes, star-capped buckets)."""
    stacked = " UNION ALL ".join(
        f"SELECT '{t}_' || CAST({_duck_plane_bits(8, 77 + t)} AS VARCHAR) "
        f"AS band_key, vec_id AS id FROM dup_embs" for t in range(2))
    return f"emb_stacked AS ({stacked}), {_capped_pairs_duck('emb_stacked')}"


# the ANN oracles' shared tail: per-(qid, nid) best similarity over the
# candidate `pairs`, then the top 5 per query (ties to the smaller nid)
_TOP5_PAIRS_TAIL = (
    "dd AS (SELECT qid, nid, MAX(sim) AS sim FROM pairs GROUP BY qid, nid), "
    "rk AS (SELECT qid, nid, sim, CAST(ROW_NUMBER() OVER "
    "  (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank FROM dd) "
    "SELECT qid, nid, ROUND(sim, 4) AS sim, rank FROM rk WHERE rank <= 5")


def _ann_ivf_duck_sql() -> str:
    """DuckDB mirror of operators.similarity.ivf_cosine_topk
    (cent_mod=31, n_probe=4, k=5, queries vec_id < 10)."""
    h = hash_id_expr("vec_id", "duckdb")
    csim = f"{_duck_dot('v.embedding', 'c.cv')} / ({_duck_norm('v.embedding')} * {_duck_norm('c.cv')})"
    qsim = f"{_duck_dot('q.embedding', 'c.cv')} / ({_duck_norm('q.embedding')} * {_duck_norm('c.cv')})"
    sim = f"{_duck_dot('qa.qv', 'va.nv')} / ({_duck_norm('qa.qv')} * {_duck_norm('va.nv')})"
    return (
        f"WITH cents AS (SELECT vec_id AS cell, embedding AS cv "
        f"  FROM embeddings WHERE ({h}) % 31 = 0), "
        f"va AS (SELECT nid, nv, cell FROM ("
        f"  SELECT v.vec_id AS nid, v.embedding AS nv, c.cell, "
        f"  ROW_NUMBER() OVER (PARTITION BY v.vec_id "
        f"    ORDER BY {csim} DESC, c.cell ASC) AS crank "
        f"  FROM embeddings v CROSS JOIN cents c) WHERE crank <= 1), "
        f"qa AS (SELECT qid, qv, cell FROM ("
        f"  SELECT q.vec_id AS qid, q.embedding AS qv, c.cell, "
        f"  ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"    ORDER BY {qsim} DESC, c.cell ASC) AS crank "
        f"  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q "
        f"  CROSS JOIN cents c) WHERE crank <= 4), "
        f"pairs AS (SELECT qa.qid, va.nid, {sim} AS sim "
        f"  FROM va JOIN qa ON va.cell = qa.cell WHERE va.nid != qa.qid), "
        f"{_TOP5_PAIRS_TAIL}")


def _ann_lsh_duck_sql() -> str:
    """DuckDB mirror of operators.similarity.lsh_cosine_topk (3 tables,
    6 planes, exact cosine re-rank, top-5)."""
    tables = [f"'{t}_' || CAST({_duck_plane_bits(6, 42 + t)} AS VARCHAR)"
              for t in range(3)]
    sv = " UNION ALL ".join(
        f"SELECT {expr} AS bucket, vec_id AS nid, embedding AS nv FROM embeddings"
        for expr in tables)
    sq = " UNION ALL ".join(
        f"SELECT {expr} AS bucket, vec_id AS qid, embedding AS qv "
        f"FROM embeddings WHERE vec_id < 10" for expr in tables)
    sim = f"{_duck_dot('qv', 'nv')} / ({_duck_norm('qv')} * {_duck_norm('nv')})"
    return (
        f"WITH sv AS ({sv}), sq AS ({sq}), "
        f"pairs AS (SELECT sq.qid, sv.nid, {sim} AS sim "
        f"  FROM sv JOIN sq ON sv.bucket = sq.bucket WHERE sv.nid != sq.qid), "
        f"{_TOP5_PAIRS_TAIL}")


def _frozen(name: str) -> str:
    """Oracle that reads back a frozen single-node fixture."""
    return (f"SELECT * FROM "
            f"read_parquet('{_FIXDIR}/expected_{name}_sf0_01.parquet')")


def oracle_sql() -> dict[str, str]:
    ctes = _duck_ctes()

    # incremental dedup oracle, shared verbatim by the bloom-prefiltered
    # variant: output-identical by construction, so one SQL proves both
    di_sql = (
        # NOT EXISTS (not NOT IN): a single NULL in di_seen would make
        # the NOT IN predicate NULL for every row; NULL hashes are
        # filtered on both sides to mirror Spark's left_anti semantics
        f"{ctes}, di_seen AS (SELECT DISTINCT md5(text) AS text_hash "
        f"  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL), "
        f"di_b AS (SELECT doc_id, md5(text) AS text_hash FROM dup_docs "
        f"  WHERE text IS NOT NULL) "
        f"SELECT MIN(doc_id) AS keep_id, text_hash, "
        f"COUNT(*) AS n_copies FROM di_b b "
        f"WHERE NOT EXISTS (SELECT 1 FROM di_seen s "
        f"  WHERE s.text_hash = b.text_hash) "
        f"GROUP BY text_hash")

    # dedup_groups / dedup_keep_best: the minhash_pairs WITH-list plus a
    # recursive min-label walk: group_id = smallest doc id transitively
    # reachable over the verified pair list (the CC oracle; UNION dedup
    # bounds the recursion by the finite (id, label) pair set)
    cc_walk = (
        f"{ctes}, {_minhash_duck_ctes()}, "
        f"vp AS (SELECT a, b FROM ({_minhash_verified_pairs_sql()}) "
        f"  WHERE jacc_pct >= {MIN_JACC_PCT}), "
        f"cc_edges AS (SELECT a AS src, b AS dst FROM vp "
        f"  UNION SELECT b, a FROM vp), "
        f"walk(id, lab) AS ("
        f"  SELECT src, src FROM cc_edges UNION "
        f"  SELECT e.src, w.lab FROM cc_edges e JOIN walk w ON w.id = e.dst)"
    ).replace("WITH ", "WITH RECURSIVE ", 1)

    # the batch windowed agg and its streaming replay share one truth
    events_win = (
        "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, "
        "event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2")

    dot = _duck_dot("q.embedding", "e.embedding")
    qn, en = _duck_norm("q.embedding"), _duck_norm("e.embedding")

    return {
        "scrub_pii": (
            f"{ctes} SELECT conv_id, turn_idx, "
            f"{scrub_sql('text', 'duckdb')} AS scrubbed_text FROM transcripts"),
        "quality_flags": (
            f"{ctes} SELECT conv_id, turn_idx, "
            f"{too_short_sql('text', 'duckdb')} AS too_short, "
            f"{low_quality_sql('text', 'duckdb')} AS low_quality FROM transcripts"),
        "toxicity": (
            f"{ctes} SELECT conv_id, turn_idx, "
            f"{toxicity_sql('text', 'duckdb')} AS toxic FROM transcripts"),
        "strip_html": (
            f"SELECT doc_id, {strip_html_sql(_HTML_WRAP, 'duckdb')} AS clean "
            f"FROM documents"),
        "turn_window": f"{ctes} {_TURN_WINDOW_SQL}",
        "conv_rollup": (
            f"{ctes} SELECT conv_id, COUNT(*) AS n_turns, "
            f"CAST(SUM(length(text)) AS BIGINT) AS total_chars, "
            f"CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns "
            f"FROM transcripts GROUP BY conv_id"),
        "pricing_summary": _PRICING_SUMMARY_SQL,
        "top_customers": (
            "SELECT c_mktsegment, c_custkey, revenue, rank FROM ("
            "  SELECT c.c_mktsegment, c.c_custkey, r.revenue, "
            "  ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment "
            "                     ORDER BY r.revenue DESC, c.c_custkey ASC) AS rank "
            "  FROM (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS revenue "
            "        FROM orders GROUP BY o_custkey) r "
            "  JOIN customer c ON r.o_custkey = c.c_custkey"
            ") WHERE rank <= 5"),
        "dedup_exact": f"{ctes} {_DEDUP_EXACT_SQL}",
        "minhash_signatures": (
            f"{ctes}, {_minhash_duck_ctes()} "
            f"SELECT doc_id, band0, band1, band2, band3 FROM mh_sigs"),
        "minhash_pairs": (
            f"{ctes}, {_minhash_duck_ctes()} "
            f"SELECT a, b, jacc_pct FROM ({_minhash_verified_pairs_sql()}) "
            f"WHERE jacc_pct >= {MIN_JACC_PCT}"),
        "dedup_groups": (
            f"{cc_walk} "
            f"SELECT id AS doc_id, MIN(lab) AS group_id FROM walk GROUP BY id"),
        "dedup_keep_best": (
            # the dedup_groups CC walk + per-doc integer quality rank ->
            # per-group argmax winner (max rank, ties to smallest id)
            f"{cc_walk}, "
            f"kb_g AS (SELECT id AS doc_id, MIN(lab) AS group_id "
            f"  FROM walk GROUP BY id), "
            f"kb_s AS (SELECT doc_id, (len(list_distinct(string_split(trim("
            f"  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) "
            f"  * 1000000) // len(string_split(trim(regexp_replace("
            f"  lower(text), '\\s+', ' ', 'g')), ' ')) AS rank_key "
            f"  FROM dup_docs) "
            f"SELECT group_id, doc_id AS keep_id, "
            f"CAST(rank_key AS BIGINT) AS rank_key, n_members FROM ("
            f"  SELECT g.group_id, g.doc_id, s.rank_key, "
            f"  COUNT(*) OVER (PARTITION BY g.group_id) AS n_members, "
            f"  ROW_NUMBER() OVER (PARTITION BY g.group_id "
            f"    ORDER BY s.rank_key DESC, g.doc_id) AS rn "
            f"  FROM kb_g g JOIN kb_s s USING (doc_id)) WHERE rn = 1"),
        "dedup_simhash": (
            f"{ctes}, {_simhash_duck_ctes()} "
            f"SELECT a, b, hamming FROM ("
            f"  SELECT a, b, CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming "
            f"  FROM cand JOIN sh_fp fa ON cand.a = fa.doc_id "
            f"  JOIN sh_fp fb ON cand.b = fb.doc_id"
            f") WHERE hamming <= 3"),
        "regional_revenue": (
            "SELECT r_name AS region, n_name AS nation, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*) AS n_lines "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON o_orderkey = l_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "  AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY 1, 2"),
        "order_rollup": (
            "SELECT o_orderstatus, o_orderpriority, "
            "COUNT(*) AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total_price, "
            "CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid "
            "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"),
        "embedding_quantize": (
            "WITH q AS (SELECT vec_id, "
            "  list_max(list_transform(embedding, "
            "    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale, "
            "  embedding FROM embeddings) "
            "SELECT vec_id, ROUND(scale, 6) AS scale_r, "
            "CAST(CASE WHEN scale = 0 THEN 0 ELSE list_sum(list_transform("
            "  embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale) "
            "  AS INT))) END AS INT) AS code_sum, "
            "CAST(CASE WHEN scale = 0 THEN 0 ELSE list_max(list_transform("
            "  embedding, x -> abs(CAST(round(CAST(x AS DOUBLE) / scale) "
            "  AS INT)))) END AS INT) AS code_max "
            "FROM q"),
        "pq_codes": _pq_duck_sql(n_sub=4, cb_mod=37),
        "pq_ann": _pq_ann_duck_sql(k=5, n_sub=4, cb_mod=37, q_max=10),
        "events_stream_enriched": (
            "SELECT e.event_id, e.user_id, e.event_type, "
            "c.c_mktsegment AS mktsegment, ROUND(e.value, 2) AS value "
            "FROM events e JOIN customer c ON e.user_id = c.c_custkey"),
        "late_sole_suppliers": (
            # written with EXISTS/NOT EXISTS on purpose: DuckDB runs the
            # subquery form while Spark runs explicit semi/anti joins
            "WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey "
            "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY), "
            "others AS (SELECT DISTINCT l_orderkey, l_suppkey "
            "  FROM lineitem) "
            "SELECT s_suppkey, s_name, "
            "CAST(COUNT(*) AS BIGINT) AS numwait "
            "FROM late c JOIN supplier ON c.l_suppkey = s_suppkey "
            "WHERE EXISTS (SELECT 1 FROM others x "
            "  WHERE x.l_orderkey = c.l_orderkey "
            "  AND x.l_suppkey <> c.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM late y "
            "  WHERE y.l_orderkey = c.l_orderkey "
            "  AND y.l_suppkey <> c.l_suppkey) "
            "GROUP BY s_suppkey, s_name"),
        "doc_chunks": (
            "WITH dc_t AS (SELECT doc_id, string_split(trim("
            "  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk "
            "  FROM documents), "
            "dc_c AS (SELECT doc_id, len(tk) AS n_tok, "
            "  unnest(range(0, greatest(CAST(ceil((len(tk) - 64) / 48.0) "
            "    AS INT), 0) + 1)) AS chunk_idx, tk FROM dc_t) "
            "SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, "
            "CAST(chunk_idx * 48 + 1 AS BIGINT) AS tok_start, "
            "CAST(len(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) "
            "  AS BIGINT) AS n_tok, "
            "md5(array_to_string(tk[chunk_idx * 48 + 1 : "
            "  chunk_idx * 48 + 64], ' ')) AS chunk_hash FROM dc_c"),
        "sft_pairs": (
            f"{ctes}, sp_w AS (SELECT conv_id, turn_idx, role, text, "
            f"  LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) "
            f"    AS prev_role, "
            f"  LAG(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) "
            f"    AS prev_text "
            f"  FROM transcripts) "
            f"SELECT conv_id, turn_idx, "
            f"md5(prev_text) AS prompt_hash, md5(text) AS response_hash, "
            f"CAST(length(prev_text) AS BIGINT) AS prompt_len, "
            f"CAST(length(text) AS BIGINT) AS response_len "
            f"FROM sp_w WHERE role = 'assistant' AND prev_role = 'user'"),
        "idle_rich_customers": (
            "SELECT CAST(c_custkey % 7 AS INT) AS cgroup, "
            "CAST(COUNT(*) AS BIGINT) AS numcust, "
            "CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) "
            "  AS bal_cents "
            "FROM customer c "
            "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer "
            "  WHERE c_acctbal > 0) "
            "AND NOT EXISTS (SELECT 1 FROM orders o "
            "  WHERE o.o_custkey = c.c_custkey "
            "  AND o.o_totalprice > 250000) "
            "GROUP BY 1"),
        "kmeans_clusters": _kmeans_duck_sql(iters=2, cent_mod=61),
        "semdedup": _semdedup_duck_sql(0.98, iters=2, cent_mod=61, cluster_cap=2000),
        "top_ngrams": (
            "WITH toks AS (SELECT doc_id, string_split(trim("
            "  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk"
            "  FROM documents), "
            "g AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "  generate_series(1, len(tk) - 1), "
            "  i -> array_to_string(tk[i:i+1], ' ')))) AS gram "
            "  FROM toks WHERE len(tk) >= 2) "
            "SELECT gram, COUNT(*) AS df FROM g GROUP BY gram "
            "ORDER BY df DESC, gram ASC LIMIT 25"),
        "dataset_split": (
            "WITH b AS (SELECT text, "
            "  ('0x' || substr(md5('cld2s' || CAST(doc_id AS VARCHAR)), "
            "   1, 8))::BIGINT % 100 AS bucket FROM documents) "
            "SELECT CASE WHEN bucket < 80 THEN 'train' "
            "WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split, "
            "COUNT(*) AS n_docs, "
            "CAST(SUM(length(text)) AS BIGINT) AS n_chars "
            "FROM b GROUP BY 1"),
        "dataset_sample": (
            "WITH s AS (SELECT event_id, event_type, "
            "  ('0x' || substr(md5('cld2s-sample' || "
            "   CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS coin "
            "  FROM events) "
            "SELECT event_type, COUNT(*) AS n_kept, "
            "CAST(SUM(event_id) AS BIGINT) AS id_checksum FROM s "
            "WHERE coin < CASE event_type WHEN 'click' THEN 500000 "
            "WHEN 'view' THEN 100000 WHEN 'purchase' THEN 1000000 "
            "ELSE 250000 END GROUP BY event_type"),
        "decontam": (
            f"{ctes}, dc_toks AS (SELECT doc_id, string_split(trim("
            f"  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk "
            f"  FROM dup_docs), "
            f"dc_cg AS (SELECT doc_id, unnest(list_distinct(list_transform("
            f"  generate_series(1, len(tk) - 7), i -> "
            f"  md5(array_to_string(list_slice(tk, i, i + 7), ' '))))) AS gh "
            f"  FROM dc_toks WHERE len(tk) >= 8), "
            f"dc_bg AS (SELECT DISTINCT gh FROM dc_cg "
            f"  WHERE doc_id % 101 = 0) "
            f"SELECT doc_id, COUNT(*) AS n_hits FROM dc_cg "
            f"WHERE gh IN (SELECT gh FROM dc_bg) GROUP BY doc_id"),
        "funnel": funnel_steps_duck_sql(["view", "click", "purchase"]),
        "dup_spans": f"{ctes}, {duplicated_spans_duck_sql(16, 'dup_docs')}",
        "dup_span_cuts": (
            f"{ctes}, {duplicated_span_cuts_duck_sql(16, 'dup_docs')}"),
        "curation_pipeline": (
            f"WITH cp_in AS (SELECT doc_id, text, source FROM documents "
            f"  UNION ALL SELECT doc_id + 1000000 AS doc_id, text, source "
            f"  FROM documents WHERE doc_id % 3 = 0), "
            f"cp_d1 AS (SELECT * FROM cp_in QUALIFY ROW_NUMBER() OVER ("
            f"  PARTITION BY md5(text) ORDER BY doc_id) = 1), "
            f"cp_tk AS (SELECT doc_id, source, "
            f"  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', "
            f"  'g')), ' ') AS tk FROM cp_d1), "
            f"cp_cg AS (SELECT doc_id, unnest(list_distinct(list_transform("
            f"  generate_series(1, len(tk) - 7), i -> "
            f"  md5(array_to_string(list_slice(tk, i, i + 7), ' '))))) AS gh "
            f"  FROM cp_tk WHERE len(tk) >= 8), "
            f"cp_btk AS (SELECT doc_id, string_split(trim(regexp_replace("
            f"  lower(text), '\\s+', ' ', 'g')), ' ') AS tk FROM cp_in "
            f"  WHERE doc_id % 101 = 0), "
            f"cp_bg AS (SELECT DISTINCT unnest(list_distinct(list_transform("
            f"  generate_series(1, len(tk) - 7), i -> "
            f"  md5(array_to_string(list_slice(tk, i, i + 7), ' '))))) AS gh "
            f"  FROM cp_btk WHERE len(tk) >= 8), "
            f"cp_bad AS (SELECT DISTINCT doc_id FROM cp_cg "
            f"  WHERE gh IN (SELECT gh FROM cp_bg)), "
            f"cp_d2 AS (SELECT * FROM cp_tk WHERE doc_id NOT IN "
            f"  (SELECT doc_id FROM cp_bad)), "
            f"cp_qf AS (SELECT doc_id, source, tk, PERCENT_RANK() OVER ("
            f"  PARTITION BY source ORDER BY "
            f"  len(list_distinct(tk)) * 1.0 / len(tk)) AS pr FROM cp_d2), "
            f"cp_s AS (SELECT source, CASE WHEN b < 80 THEN 'train' "
            f"  WHEN b < 90 THEN 'val' ELSE 'test' END AS split, "
            f"  len(tk) AS ntok FROM (SELECT source, tk, "
            f"  ('0x' || substr(md5('cld2s' || CAST(doc_id AS VARCHAR)), "
            f"  1, 8))::BIGINT % 100 AS b FROM cp_qf WHERE pr >= 0.25)) "
            f"SELECT source, split, COUNT(*) AS n_docs, "
            f"CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM cp_s "
            f"GROUP BY source, split"),
        "dedup_incremental": di_sql,
        "dedup_incremental_bloom": di_sql,
        "corpus_shuffle": corpus_shuffle_duck_sql("documents", n_shards=8),
        "gopher_quality": gopher_quality_duck_sql(
            "documents", min_words=20, max_words=90,
            min_mean_wlen=4.3, max_mean_wlen=4.7),
        "retention_cohorts": retention_cohorts_duck_sql("events"),
        "event_anomalies": daily_anomalies_duck_sql("events"),
        "user_reach": (
            "SELECT event_type, COUNT(DISTINCT user_id) AS reach, "
            "COUNT(*) AS n_events FROM events GROUP BY event_type"),
        "small_quantity_orders": (
            # the correlated form DuckDB decorrelates itself — written
            # correlated on purpose so the oracle exercises the subquery
            # path while Spark runs the decorrelated agg+join
            "SELECT l_partkey, COUNT(*) AS n_small, "
            "CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) "
            "  AS BIGINT) AS value_cents "
            "FROM lineitem l1 "
            "WHERE 5 * CAST(l_quantity AS BIGINT) * "
            "  (SELECT COUNT(*) FROM lineitem l2 "
            "   WHERE l2.l_partkey = l1.l_partkey) < "
            "  (SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) "
            "   FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey) "
            "GROUP BY l_partkey"),
        "cube_revenue": (
            "SELECT o_orderpriority, o_orderstatus, "
            "COUNT(*) AS n_orders, "
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) "
            "  AS BIGINT) AS revenue_cents "
            "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)"),
        "viewers_not_buyers": _VIEWERS_NOT_BUYERS_SQL,
        "order_distribution": (
            "WITH od_pc AS (SELECT c.c_custkey, "
            "  COUNT(o.o_orderkey) AS c_count "
            "  FROM customer c LEFT JOIN orders o "
            "  ON c.c_custkey = o.o_custkey "
            "  AND o.o_orderpriority NOT LIKE '1%' "
            "  GROUP BY c.c_custkey) "
            "SELECT c_count, COUNT(*) AS custdist FROM od_pc "
            "GROUP BY c_count"),
        "big_orders": (
            "WITH bo_q AS (SELECT l_orderkey, "
            "  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty "
            "  FROM lineitem GROUP BY l_orderkey "
            "  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) "
            "SELECT c.c_custkey, o.o_orderkey, q.total_qty, "
            "ROUND(o.o_totalprice, 2) AS o_totalprice "
            "FROM bo_q q JOIN orders o ON q.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey"),
        "cheapest_supplier": (
            "WITH cs_p AS (SELECT DISTINCT l_partkey, l_suppkey "
            "  FROM lineitem), "
            "cs_j AS (SELECT l_partkey, s_suppkey, s_name, s_acctbal, "
            "  ROW_NUMBER() OVER (PARTITION BY l_partkey "
            "    ORDER BY s_acctbal, s_suppkey) AS rn "
            "  FROM cs_p JOIN supplier ON l_suppkey = s_suppkey) "
            "SELECT l_partkey AS p_partkey, s_suppkey, s_name, "
            "ROUND(s_acctbal, 2) AS s_acctbal FROM cs_j WHERE rn = 1"),
        "quality_rank_filter": (
            "WITH qr AS (SELECT doc_id, source, "
            "  len(list_distinct(string_split(trim(regexp_replace("
            "  lower(text), '\\s+', ' ', 'g')), ' '))) * 1.0 "
            "  / len(string_split(trim(regexp_replace(lower(text), "
            "  '\\s+', ' ', 'g')), ' ')) AS score FROM documents), "
            "qp AS (SELECT doc_id, source, score, PERCENT_RANK() OVER ("
            "  PARTITION BY source ORDER BY score) AS pr FROM qr) "
            "SELECT doc_id, source, ROUND(score, 6) AS score, "
            "ROUND(pr, 6) AS pr FROM qp WHERE pr >= 0.25"),
        "mixture_sample": (
            "WITH mx_t AS (SELECT doc_id, source, "
            "  CAST(len(string_split(trim(regexp_replace(lower(text), "
            "  '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok "
            "  FROM documents), "
            "mx_tot AS (SELECT source, SUM(n_tok) AS src_tok "
            "  FROM mx_t GROUP BY source), "
            "mx_r AS (SELECT source, LEAST(CAST(1.0 AS DOUBLE), "
            "  CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE) "
            "  WHEN 'src1' THEN CAST(0.2 AS DOUBLE) "
            "  WHEN 'src2' THEN CAST(0.05 AS DOUBLE) "
            "  WHEN 'src3' THEN CAST(0.05 AS DOUBLE) "
            "  ELSE CAST(0.0 AS DOUBLE) END "
            "  * CAST(4000.0 AS DOUBLE) / src_tok) AS keep_rate "
            "  FROM mx_tot) "
            "SELECT t.doc_id, t.source, t.n_tok, "
            "ROUND(keep_rate, 6) AS keep_rate "
            "FROM mx_t t JOIN mx_r r USING (source) "
            "WHERE ('0x' || substr(md5('cld2s-mix' || "
            "CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 "
            "< FLOOR(keep_rate * 1000000)"),
        "tfidf_terms": (
            "WITH tt AS (SELECT doc_id, source, "
            "  unnest(string_split(trim(regexp_replace(lower(text), "
            "  '\\s+', ' ', 'g')), ' ')) AS term FROM documents), "
            "tt2 AS (SELECT * FROM tt WHERE length(term) >= 3), "
            "tdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df "
            "  FROM tt2 GROUP BY term), "
            "ttf AS (SELECT source, term, COUNT(*) AS tf "
            "  FROM tt2 GROUP BY source, term), "
            "tn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs "
            "  FROM documents), "
            "ts AS (SELECT source, term, tf, df, "
            "  (tf * 1000000) // df AS rank_key, "
            "  ROUND(tf * ln(n_docs / df), 4) AS score "
            "  FROM ttf JOIN tdf USING (term) CROSS JOIN tn), "
            "tr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source "
            "  ORDER BY rank_key DESC, term ASC) AS rk FROM ts) "
            "SELECT source, term, CAST(tf AS BIGINT) AS tf, "
            "CAST(df AS BIGINT) AS df, score, CAST(rk AS INTEGER) AS rk "
            "FROM tr WHERE rk <= 3"),
        "paragraph_dedup": (
            f"{ctes}, pd_ls AS (SELECT doc_id, "
            f"  list_filter(list_transform(string_split_regex(text, '\\.'), "
            f"  x -> trim(x)), x -> length(x) > 0) AS ls FROM dup_docs), "
            f"pd_ln AS (SELECT doc_id, "
            f"  unnest(generate_series(1, len(ls))) AS pos, "
            f"  unnest(ls) AS line FROM pd_ls), "
            f"pd_w AS (SELECT doc_id, pos, line, ROW_NUMBER() OVER ("
            f"  PARTITION BY md5(line) "
            f"  ORDER BY doc_id, pos) AS rn FROM pd_ln) "
            f"SELECT doc_id, string_agg(line, '. ' ORDER BY pos) "
            f"  AS text_dedup, "
            f"CAST(COUNT(*) AS BIGINT) AS n_lines_kept "
            f"FROM pd_w WHERE rn = 1 GROUP BY doc_id"),
        "seq_pack": (
            "WITH RECURSIVE sp_t AS (SELECT doc_id, "
            "  CAST(doc_id % 8 AS INTEGER) AS block, "
            "  CAST(len(string_split(trim(regexp_replace(lower(text), "
            "  '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok, "
            "  ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) "
            "  AS rn FROM documents), "
            "sp_s AS ("
            "  SELECT block, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS seq, "
            "    CAST(0 AS BIGINT) AS tok_offset, n_tok AS fill "
            "  FROM sp_t WHERE rn = 1 "
            "  UNION ALL "
            "  SELECT t.block, t.rn, t.doc_id, t.n_tok, "
            "    CASE WHEN s.fill + t.n_tok > 128 THEN s.seq + 1 "
            "      ELSE s.seq END, "
            "    CASE WHEN s.fill + t.n_tok > 128 THEN CAST(0 AS BIGINT) "
            "      ELSE s.fill END, "
            "    CASE WHEN s.fill + t.n_tok > 128 THEN t.n_tok "
            "      ELSE s.fill + t.n_tok END "
            "  FROM sp_s s JOIN sp_t t "
            "  ON t.block = s.block AND t.rn = s.rn + 1) "
            "SELECT doc_id, block, seq, tok_offset, n_tok FROM sp_s"),
        "rep_stats": (
            "WITH rl AS (SELECT doc_id, unnest(list_filter(list_transform("
            "  string_split_regex(text, '\\.'), x -> trim(x)), "
            "  x -> length(x) > 0)) AS line FROM documents), "
            "rlc AS (SELECT doc_id, line, COUNT(*) AS c, "
            "  length(line) AS len FROM rl GROUP BY doc_id, line), "
            "rln AS (SELECT doc_id, "
            "  ROUND(SUM(c - 1) * 1.0 / SUM(c), 4) AS dup_line_frac, "
            "  ROUND(SUM((c - 1) * len) * 1.0 / SUM(c * len), 4) "
            "    AS dup_line_char_frac FROM rlc GROUP BY doc_id), "
            "rt AS (SELECT doc_id, string_split(trim(regexp_replace("
            "  lower(text), '\\s+', ' ', 'g')), ' ') AS tk, "
            "  length(text) AS n_chars FROM documents), "
            "rg AS (SELECT doc_id, n_chars, unnest(list_transform("
            "  generate_series(1, len(tk) - 1), i -> array_to_string("
            "  list_slice(tk, i, i + 1), ' '))) AS g "
            "  FROM rt WHERE len(tk) >= 2), "
            "rgc AS (SELECT doc_id, n_chars, g, COUNT(*) AS c "
            "  FROM rg GROUP BY doc_id, n_chars, g), "
            "rtop AS (SELECT doc_id, n_chars, c, length(g) AS gl, "
            "  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, "
            "  length(g) DESC, g DESC) AS rn FROM rgc) "
            "SELECT rln.doc_id, dup_line_frac, dup_line_char_frac, "
            "ROUND(c * gl * 1.0 / n_chars, 4) AS top_2gram_char_frac "
            "FROM rln LEFT JOIN (SELECT * FROM rtop WHERE rn = 1) t "
            "ON rln.doc_id = t.doc_id"),
        "event_sessions": (
            "WITH g AS ("
            "  SELECT user_id, event_id, ts,"
            "         CASE WHEN epoch_us(ts)"
            "              - lag(epoch_us(ts))"
            "                OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            "              > 1800000000 THEN 1"
            "              WHEN lag(ts) OVER (PARTITION BY user_id"
            "                                 ORDER BY ts, event_id) IS NULL"
            "              THEN 1 ELSE 0 END AS new_sess"
            "  FROM events),"
            "s AS ("
            "  SELECT user_id,"
            "         SUM(new_sess) OVER (PARTITION BY user_id"
            "                             ORDER BY ts, event_id"
            "                             ROWS UNBOUNDED PRECEDING) AS sess_id"
            "  FROM g),"
            "per_sess AS ("
            "  SELECT user_id, sess_id, COUNT(*) AS n_events"
            "  FROM s GROUP BY user_id, sess_id) "
            "SELECT user_id,"
            "       CAST(COUNT(*) AS INT) AS n_sessions,"
            "       CAST(MAX(n_events) AS INT) AS longest_session,"
            "       CAST(SUM(n_events) AS BIGINT) AS n_events "
            "FROM per_sess GROUP BY user_id"),
        "event_asof": (
            "WITH l AS (SELECT event_id, user_id, ts, value FROM events"
            "           WHERE event_type = 'click'),"
            "r AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events"
            "      WHERE event_type = 'purchase'),"
            "j AS (SELECT l.event_id, l.user_id, l.value, l.ts, r.p_ts,"
            "             r.p_value,"
            "             ROW_NUMBER() OVER (PARTITION BY l.event_id"
            "               ORDER BY r.p_ts DESC, r.p_value DESC) AS rn"
            "      FROM l LEFT JOIN r"
            "        ON l.user_id = r.user_id AND r.p_ts <= l.ts) "
            "SELECT event_id, user_id, value AS click_value,"
            "       COALESCE(p_value, -1.0) AS purchase_value,"
            "       COALESCE(date_diff('microsecond', p_ts, ts)/1000000.0,"
            "                -1.0) AS purchase_age_sec "
            "FROM j WHERE rn = 1"),
        "error_attribution": (
            "SELECT c.event_id AS click_id, e.event_id AS error_id,"
            "       c.user_id,"
            "       date_diff('microsecond', e.ts, c.ts)/1000000.0"
            "         AS lag_sec "
            "FROM (SELECT * FROM events WHERE event_type='click') c "
            "JOIN (SELECT * FROM events WHERE event_type='error') e"
            "  ON c.user_id = e.user_id"
            " AND date_diff('microsecond', e.ts, c.ts) >= 0"
            " AND date_diff('microsecond', e.ts, c.ts)"
            "     < CAST(7200 AS BIGINT)*1000000"),
        "event_quantiles": (
            "SELECT event_type, "
            "ROUND(quantile_cont(value, 0.5), 4) AS p50, "
            "ROUND(quantile_cont(value, 0.9), 4) AS p90, "
            "ROUND(quantile_cont(value, 0.99), 4) AS p99, "
            "ROUND(MIN(value), 4) AS vmin, ROUND(MAX(value), 4) AS vmax, "
            "COUNT(*) AS n FROM events GROUP BY event_type"),
        "dedup_jaccard": _ngram_jaccard_duck_sql(),
        "ann_lsh": _ann_lsh_duck_sql(),
        "ann_ivf": _ann_ivf_duck_sql(),
        "dedup_embedding": (
            f"{ctes}, {_dedup_embedding_duck_ctes()} "
            f"SELECT a, b, ROUND(sim, 4) AS sim FROM ("
            f"  SELECT a, b, "
            f"  {_duck_dot('ea.embedding', 'eb.embedding')} / "
            f"  ({_duck_norm('ea.embedding')} * {_duck_norm('eb.embedding')}) AS sim "
            f"  FROM cand JOIN dup_embs ea ON cand.a = ea.vec_id "
            f"  JOIN dup_embs eb ON cand.b = eb.vec_id"
            f") WHERE sim >= 0.98"),
        "token_stats": (
            "SELECT doc_id, "
            "length(string_split_regex(trim(text), '\\s+')) AS n_tokens, "
            "length(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct_tokens, "
            "md5(lower(trim(text))) AS fingerprint "
            "FROM documents WHERE length(trim(text)) > 0"),
        "ann_cosine": (
            f"SELECT q.vec_id AS qid, e.vec_id AS nid, "
            f"ROUND({dot} / ({qn} * {en}), 4) AS sim "
            f"FROM (SELECT * FROM embeddings WHERE vec_id < 10) q "
            f"CROSS JOIN embeddings e "
            f"WHERE e.vec_id != q.vec_id "
            f"  AND {dot} / ({qn} * {en}) > 0.3"),
        "events_windowed": events_win,
        "events_stream": events_win,
        "events_stream_join": (
            "SELECT c.user_id, c.event_id AS click_id, "
            "epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS buy_us, "
            "ROUND(p.value, 2) AS buy_value "
            "FROM events c JOIN events p ON c.user_id = p.user_id "
            "AND c.event_type = 'click' AND p.event_type = 'purchase' "
            "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"),
        "brand_revenue": (
            "SELECT p_brand, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*) AS n_lines "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_quantity > 30 GROUP BY p_brand"),
        "priority_semijoin": (
            "SELECT o_orderpriority, "
            "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM lineitem l "
            "    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
            "    THEN 1 ELSE 0 END) AS BIGINT) AS with_discounted_line, "
            "CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM lineitem l "
            "    WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05) "
            "    THEN 1 ELSE 0 END) AS BIGINT) AS without_discounted_line "
            "FROM orders o GROUP BY o_orderpriority"),
        "lsh_buckets": _lsh_buckets_duck_sql(),
        "audio_meta": (
            "SELECT doc_id AS media_id, "
            "CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
            "WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate, "
            "CAST(1 + doc_id % 2 AS INT) AS channels, "
            "CAST(FLOOR(((CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
            "WHEN 2 THEN 22050 ELSE 44100 END) // 100 + doc_id % 50) * 1000.0 "
            "/ (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
            "WHEN 2 THEN 22050 ELSE 44100 END)) AS INT) AS duration_ms "
            "FROM documents"),
        "audio_features": (
            # recompute the fixture waveform s_j = ((a*j + b) % 2048) - 1024
            # from id arithmetic and aggregate the SAME integer features the
            # Spark side derives from the decoded PCM bytes
            "WITH af_p AS (SELECT doc_id AS media_id, "
            "  80 + doc_id % 50 AS n, 3 + doc_id % 7 AS a, "
            "  doc_id % 997 AS b FROM documents), "
            "af_s AS (SELECT media_id, n, list_transform(range(0, n), "
            "  j -> ((a * j + b) % 2048) - 1024) AS smp FROM af_p) "
            "SELECT media_id, CAST(n AS BIGINT) AS n_samples, "
            "CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) "
            "  AS peak, "
            "CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) "
            "  AS energy, "
            "CAST(list_sum(list_transform(range(1, n), j -> "
            "  CASE WHEN (smp[j + 1] >= 0) <> (smp[j] >= 0) "
            "  THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings "
            "FROM af_s"),
        "video_meta": (
            "SELECT doc_id AS media_id, "
            "CAST(16 + (doc_id * 41) % 1008 AS INT) AS width, "
            "CAST(16 + (doc_id * 29) % 752 AS INT) AS height, "
            "CAST(500 + 5 * ((doc_id * 13) % 1900) AS INT) AS duration_ms "
            "FROM documents"),
        "media_meta": (
            "SELECT doc_id AS media_id, "
            "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' "
            "ELSE 'jpeg' END AS fmt, "
            "CAST(16 + (doc_id * 37) % 992 AS INT) AS width, "
            "CAST(16 + (doc_id * 53) % 736 AS INT) AS height "
            "FROM documents"),
        "conversation_features": (
            f"{ctes}, g AS (SELECT conv_id, turn_idx, role, text, ts, "
            f"  epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS gap "
            f"  FROM transcripts) "
            f"SELECT conv_id, CAST(COUNT(*) AS INT) AS n_turns, "
            f"CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS INT) AS n_user_turns, "
            f"CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS total_chars, "
            f"COALESCE(ROUND(AVG(gap), 3), 0.0) AS mean_gap_s, "
            f"COALESCE(ROUND(MAX(gap), 3), 0.0) AS max_gap_s "
            f"FROM g GROUP BY conv_id"),
        # langid / keep_drop / lang_histogram / lang_spans: CLD2-style
        # langid UDF pipelines, not SQL-expressible in DuckDB — the oracle
        # is the FROZEN single-node truth (tools/freeze_expected.py): the
        # same kernels run outside Spark over the sf0.01 transcripts and
        # persisted as parquet, which DuckDB reads back here. The driver
        # then hash-compares Spark vs the frozen fixture (VERDICT r4 #3).
        # Frozen at sf0.01 = the driver's correctness scale;
        # tests/test_frozen_fixture.py re-derives them each CI run.
        "media_features": _frozen("media_features"),
        "jpeg_features": _frozen("jpeg_features"),
        # progressive reorganizes the SAME quantized coefficients, so its
        # decode must match the BASELINE fixture bit-for-bit — the shared
        # oracle is the cross-profile equivalence proof
        "jpeg_progressive_features": _frozen("jpeg_features"),
        "jpeg_color_features": _frozen("jpeg_color"),
        "video_features": _frozen("video_features"),
        "compression_ratio": _frozen("compression"),
        # frozen truth is an INDEPENDENT single-node BPE implementation
        # (tools/freeze_expected.py:_bpe_fixtures), re-derived each CI run
        "bpe_encode": _frozen("bpe_encode"),
        "bpe_merges": _frozen("bpe_merges"),
        # independent single-node unigram hard-EM implementation, frozen
        "unigram_encode": _frozen("unigram_encode"),
        "unigram_vocab": _frozen("unigram_vocab"),
        # independent single-node WordPiece implementation, frozen
        "wordpiece_encode": _frozen("wordpiece_encode"),
        "wordpiece_vocab": _frozen("wordpiece_vocab"),
        # LIVE oracles: DuckDB replays the full 12-iteration integer
        # fixed-point GD run / the Morton bit algebra — nothing frozen
        "classifier_train": C.train_oracle_sql(),
        "classifier_score": C.score_oracle_sql(),
        "zorder_stats": zorder_stats_oracle_sql("orders", **_ZORDER_KEYS),
        "lm_score": lm_score_oracle_sql(min_count=2),
        "ccnet_buckets": ccnet_buckets_oracle_sql(min_count=2),
        "dsir_select": dsir_oracle_sql("source IN ('src0', 'src1')", k=50),
        "textrank_keywords": textrank_oracle_sql(k=50),
        "kanon_grams": kanon_grams_oracle_sql(n=3, k_anon=5),
        "pmi_collocations": pmi_oracle_sql(k=40),
        "context_trim": f"{_duck_ctes()} {_context_trim_sql('duckdb')}",
        "turn_integrity": f"{_duck_ctes()} {_TURN_INTEGRITY_SQL}",
        "kcenter_select": kcenter_oracle_sql(k=6),
        "conv_dedup": _conv_dedup_oracle(),
        "rep_ngram_battery": rep_ngram_battery_oracle_sql(),
        "tool_transitions": f"{_duck_ctes()} {_TOOL_TRANSITIONS_SQL}",
        "soft_dedup": (
            f"{_duck_ctes()} "
            "SELECT doc_id, CAST(COUNT(*) OVER (PARTITION BY "
            "md5(coalesce(text, ''))) AS BIGINT) AS dup_count, "
            "CAST(1000000 // COUNT(*) OVER (PARTITION BY "
            "md5(coalesce(text, ''))) AS BIGINT) AS weight_ppm "
            "FROM dup_docs"),
        "gif_features": gif_features_oracle_sql(),
        "blocklist_hits": blocklist_oracle_sql(_BLOCKLIST),
        "lexical_diversity": lexical_diversity_oracle_sql(),
        "conv_pacing": f"{_duck_ctes()} {_conv_pacing_sql('duckdb')}",
        "session_windows": _session_windows_oracle(),
        "tfidf_search": tfidf_search_oracle_sql(_SEARCH_QUERY, k=20),
        "events_stream_sessions": _session_windows_oracle(),
        "drop_reasons": (
            "SELECT keep, coalesce(drop_reason, '-') AS drop_reason, "
            "CAST(COUNT(*) AS BIGINT) AS n_turns FROM read_parquet("
            f"'{_FIXDIR}/expected_keep_drop_sf0_01.parquet') "
            "GROUP BY keep, coalesce(drop_reason, '-')"),
        "normalize_text": normalize_text_oracle_sql(f"({_NORM_TEXT})"),
        "key_skew": key_skew_oracle_sql("event_type", top=10),
        "length_histogram": length_histogram_oracle_sql(),
        "role_share": f"{_duck_ctes()} {_role_share_sql('duckdb')}",
        "dataset_card": _dataset_card_sql("duckdb"),
        "sample_exact_k": (
            "SELECT doc_id, source, "
            "md5('cld2s-topk' || CAST(doc_id AS VARCHAR)) AS sample_key "
            "FROM documents ORDER BY sample_key LIMIT 100"),
        "image_thumbnails": _frozen("thumbs"),
        "frame_sample": (
            "WITH fs AS (SELECT doc_id, "
            "  500 + 5 * ((doc_id * 13) % 1900) AS dur FROM documents), "
            "fn AS (SELECT doc_id, CAST(ceil(dur / 1000.0) AS INT) AS nf "
            "  FROM fs) "
            "SELECT doc_id AS media_id, "
            "CAST(unnest(range(0, nf)) * 1000 AS BIGINT) AS frame_ts_ms "
            "FROM fn"),
        "langid": (
            f"SELECT conv_id, turn_idx, lang1, pct1, is_reliable "
            f"FROM read_parquet('{_FIXDIR}/expected_langid_sf0_01.parquet')"),
        "keep_drop": (
            f"SELECT conv_id, turn_idx, lang1, pct1, rel1, is_reliable, "
            f"ft_lang, ppl, keep, drop_reason, scrubbed_text "
            f"FROM read_parquet('{_FIXDIR}/expected_keep_drop_sf0_01.parquet')"),
        "lang_histogram": (
            f"SELECT lang1 AS lang, COUNT(*) AS n "
            f"FROM read_parquet('{_FIXDIR}/expected_langid_sf0_01.parquet') "
            f"GROUP BY lang1"),
        "lang_spans": (
            f"SELECT conv_id, turn_idx, span_idx, off, len, off_b, len_b, "
            f"lang "
            f"FROM read_parquet('{_FIXDIR}/expected_spans_sf0_01.parquet')"),
        "conv_state_stream": (
            # the batch truth of the keyed-state fold: group the frozen
            # keep_drop verdicts per conversation and replay the
            # alive rule (rate floor after >= 10 turns)
            f"WITH cs AS (SELECT conv_id, "
            f"  CAST(COUNT(*) AS BIGINT) AS n_turns, "
            f"  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) "
            f"    AS n_keep "
            f"  FROM read_parquet("
            f"    '{_FIXDIR}/expected_keep_drop_sf0_01.parquet') "
            f"  GROUP BY conv_id) "
            f"SELECT conv_id, n_turns, n_keep, "
            f"CAST((100 * n_keep) // n_turns AS INT) AS keep_rate_pct, "
            f"(n_turns < 10 OR (100 * n_keep) // n_turns >= 20) "
            f"  AS conv_alive FROM cs"),
        "winnow_fingerprints": (
            "WITH wf_toks AS (SELECT doc_id, string_split(trim("
            "  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk "
            "  FROM documents), "
            "wf_hs AS (SELECT doc_id, "
            "  list_transform(generate_series(1, len(tk) - 2), i -> "
            "  ('0x' || substr(md5(array_to_string(tk[i:i+2], ' ')), "
            "   1, 15))::BIGINT) AS h "
            "  FROM wf_toks WHERE len(tk) >= 3), "
            "wf_sel AS (SELECT doc_id, unnest(list_transform("
            "  generate_series(1, greatest(len(h) - 3, 1)), j -> "
            "  {'pos': CAST(j + len(h[j:j+3]) - list_position("
            "     list_reverse(h[j:j+3]), list_min(h[j:j+3])) AS INTEGER), "
            "   'fp': list_min(h[j:j+3])})) AS s "
            "  FROM wf_hs) "
            "SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp FROM wf_sel"),
        "heavy_hitters": (
            "WITH hh_tok AS (SELECT unnest(string_split(trim("
            "  regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) "
            "  AS token FROM documents), "
            "hh_t AS (SELECT token FROM hh_tok WHERE token != ''), "
            "hh_cnt AS (SELECT token, count(*) AS n FROM hh_t "
            "  GROUP BY token), "
            "hh_top AS (SELECT token, n FROM hh_cnt "
            "  ORDER BY n DESC, token ASC LIMIT 30), "
            "hh_cells AS (SELECT r.range AS r, "
            "  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || token), "
            "   1, 8))::BIGINT % 1024 AS c, count(*) AS n "
            "  FROM hh_t CROSS JOIN range(0, 4) r GROUP BY 1, 2) "
            "SELECT t.token, t.n, MIN(c2.n) AS n_cms "
            "FROM hh_top t CROSS JOIN range(0, 4) r "
            "JOIN hh_cells c2 ON c2.r = r.range AND c2.c = "
            "  ('0x' || substr(md5(CAST(r.range AS VARCHAR) || t.token), "
            "   1, 8))::BIGINT % 1024 "
            "GROUP BY t.token, t.n"),
        "group_sample_k": (
            "WITH gsk AS (SELECT source, doc_id, "
            "  md5('cld2s-grpk' || CAST(doc_id AS VARCHAR)) AS sample_key, "
            "  ROW_NUMBER() OVER (PARTITION BY source ORDER BY "
            "  md5('cld2s-grpk' || CAST(doc_id AS VARCHAR)), doc_id) AS rk "
            "  FROM documents) "
            "SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, sample_key "
            "FROM gsk WHERE rk <= 5"),
        "shipping_priority": (
            "SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') "
            "  AS order_date, "
            "CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) * "
            "  (100 - CAST(FLOOR(l.l_discount * 100) AS BIGINT))) AS BIGINT) "
            "  AS revenue_c4, "
            "COUNT(*) AS n_lines "
            "FROM lineitem l "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "WHERE c.c_mktsegment = 'BUILDING' "
            "  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00' "
            "  AND l.l_shipdate  > TIMESTAMP '1998-06-01 00:00:00' "
            "GROUP BY 1, 2 "
            "ORDER BY revenue_c4 DESC, o.o_orderkey ASC LIMIT 10"),
    }
