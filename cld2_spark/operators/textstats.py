"""Text-analysis operators for training-data pipelines (SQL-first).

Everything here is whole-stage-codegen SQL except heuristic language-ID,
which reuses the langid kernels. Tokens are `tokenizer.tokens_sql`'s
whitespace tokens; the rolling SimHash lives in operators/dedup.py.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints
from pyspark.sql import DataFrame, functions as F

from cld2_spark.operators.tokenizer import tokens_sql


def lang_distribution(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language histogram via the langid UDF: one Python stage, then a
    map-side-combinable groupBy (partial agg before the single shuffle)."""
    from cld2_spark.functions.langid import detect_udf

    return (df.select(detect_udf(F.col(text_col)).alias("lang"))
            .groupBy("lang").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n")))


def with_split(df: DataFrame, id_col: str = "doc_id",
               train_pct: int = 80, val_pct: int = 10,
               salt: str = "cld2s") -> DataFrame:
    """Deterministic train/val/test assignment by salted id hash.

    The split is a pure function of (salt, id): stable across runs,
    machines and partitionings -- the property a 100TB training-data
    split needs (no sampling state, no shuffle; assignment is a codegen
    projection). Changing the salt redraws the split; keeping it
    guarantees a document never migrates between splits as the corpus
    grows (the basis of leakage-free incremental training sets).
    """
    bucket = F.expr(
        f"conv(substring(md5(concat('{salt}', CAST({id_col} AS STRING))), "
        f"1, 8), 16, 10) % 100").cast("int")
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"))


def quality_rank_filter(df: DataFrame, pct: float = 0.25,
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Adaptive per-group quality floor: drop each group's bottom `pct`
    by lexical-diversity score (distinct tokens / tokens — the cheapest
    repetition-robust quality proxy), keeping docs with
    percent_rank >= pct within their group.

    Rank-based on purpose: the score is a ratio of small exact integers
    and percent_rank is (rank-1)/(n-1) on those, so the whole filter is
    engine-exact — no percentile-interpolation float boundary to flip a
    doc between engines. This exact path costs one sort per group (the
    group key bounds the shuffle); at 100 TB with billion-row groups,
    swap the cutoff computation for operators.quantiles.grouped_quantiles
    (exact=False, mergeable GK sketch) and broadcast the per-group
    cutoffs instead — same API shape, documented trade in BENCH/BASELINE.md.
    """
    from pyspark.sql import Window

    tk = tokens_sql(text_col, "spark", drop_empty=False)
    score = F.expr(f"size(array_distinct({tk})) / size({tk})")
    # NULL text scores NULL and ranks last, as in SQL's default order
    w = Window.partitionBy(group_col).orderBy(F.asc_nulls_last("score"))
    return (df.select(id_col, group_col, score.alias("score"))
            .withColumn("pr", F.percent_rank().over(w))
            .where(F.col("pr") >= pct)
            .select(id_col, group_col, F.round("score", 6).alias("score"),
                    F.round("pr", 6).alias("pr")))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = 3, w: int = 4) -> DataFrame:
    """MOSS-style winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003): hash every k-token shingle, slide a w-hash
    window, and in each window select the minimum hash (rightmost
    occurrence on ties). The distinct selected (pos, hash) pairs are the
    document's fingerprint — the guarantee is that any shared run of
    w + k - 1 tokens between two documents shares at least one selected
    fingerprint, at an expected density of 2/(w+1) of all shingles.

    Everything is per-document array algebra inside ONE codegen
    projection — zero shuffle, zero UDF, no explode before selection —
    so at 100 TB the operator is a pure map over the corpus scan
    (fingerprint-set size per doc is ~2m/(w+1), bounded by doc length).
    The 60-bit hash is the similarity sketch itself (winnowing is an
    approximate containment signal, not an identity key), so the
    birthday-collision caveat that applies to dedup keys does not apply
    here; downstream exact dedup must still verify text.

    Docs with fewer than k tokens produce no fingerprints; docs with
    fewer than w shingles produce one window covering all shingles (the
    standard short-document convention).
    """
    tk = tokens_sql(text_col, "spark", drop_empty=False)
    hs = (f"CASE WHEN size({tk}) >= {k} THEN "
          f"transform(sequence(1, size({tk}) - {k} + 1), i -> "
          f"cast(conv(substr(md5(concat_ws(' ', slice({tk}, i, {k}))), "
          f"1, 15), 16, 10) AS BIGINT)) "
          f"ELSE CAST(array() AS ARRAY<BIGINT>) END")
    # windows: j -> slice(hs, j, w); selection: min hash, rightmost tie
    fps = (f"CASE WHEN size(h) = 0 THEN "
           f"CAST(array() AS ARRAY<STRUCT<pos: INT, fp: BIGINT>>) ELSE "
           f"array_distinct(transform("
           f"  transform(sequence(1, greatest(size(h) - {w} + 1, 1)), "
           f"            j -> struct(j AS j, slice(h, j, {w}) AS s)), "
           f"  x -> struct("
           f"    CAST(x.j + size(x.s) - array_position(reverse(x.s), "
           f"         array_min(x.s)) AS INT) AS pos, "
           f"    array_min(x.s) AS fp))) END")
    return (df.select(id_col, F.expr(hs).alias("h"))
            .select(id_col, F.explode(F.expr(fps)).alias("f"))
            .select(id_col, F.col("f.pos").alias("pos"),
                    F.col("f.fp").alias("fp")))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the classic entropy proxy
    quality signal (repetitive/templated junk compresses far below
    natural text; used alongside the Gopher rules in CCNet-style
    curation). Integer-exact output: ratio_ppm = compressed_bytes * 10^6
    DIV raw_bytes, so thresholds never flip on float division.

    zlib is per-row but C-speed (~100 MB/s/core) inside one Arrow-batched
    UDF; rows scale across executors. Level is pinned so the value is a
    stable function of the text bytes (the frozen oracle relies on it,
    same determinism contract as the PNG fixture encoder)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        return pd.Series([
            len(zlib.compress(t.encode("utf-8"), level)) if t else 0
            for t in texts.fillna("")])

    # n_raw = UTF-8 BYTES (octet_length), matching zlib's input length
    enc_len = F.expr(f"octet_length({text_col})").cast("bigint")
    return (df.select(F.col(id_col), enc_len.alias("n_raw"),
                      comp_len(F.col(text_col)).alias("n_comp"))
            .withColumn("ratio_ppm",
                        F.expr("CASE WHEN n_raw = 0 THEN 0 "
                               "ELSE (n_comp * 1000000L) DIV n_raw END")))


def blocklist_hits(df: DataFrame, blocked: list[str],
                   text_col: str = "text", id_col: str = "doc_id"
                   ) -> DataFrame:
    """Token-level blocklist filter (the C4 'bad words' rule): count the
    blocked-token occurrences per document and keep documents with zero
    hits. The blocklist travels as an inline array literal inside ONE
    whole-stage-codegen projection — no shuffle, no UDF, no broadcast
    join (real blocklists are a few thousand tokens; past the codegen
    literal ceiling swap the filter for a broadcast left_semi on the
    exploded tokens, same semantics).

    Matching is exact-token (post lowercase/whitespace-normalize), the
    published C4 form — substring matching would also hit Scunthorpe-
    style false positives."""
    toks = tokens_sql(text_col, "spark", drop_empty=False)
    lit = "array(" + ", ".join(
        "'" + b.replace("'", "\\'") + "'" for b in sorted(blocked)) + ")"
    n = (f"CAST(size(filter({toks}, t -> array_contains({lit}, t))) "
         f"AS BIGINT)")
    return (df.where(F.col(text_col).isNotNull())
            .select(id_col, F.expr(n).alias("n_blocked"))
            .withColumn("keep", F.col("n_blocked") == 0))


def blocklist_oracle_sql(blocked: list[str], table: str = "documents",
                         text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica of the token blocklist rule."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    lit = "[" + ", ".join(
        "'" + b.replace("'", "''") + "'" for b in sorted(blocked)) + "]"
    return (f"SELECT {id_col}, CAST(len(list_filter({toks}, "
            f"t -> list_contains({lit}, t))) AS BIGINT) AS n_blocked, "
            f"len(list_filter({toks}, t -> list_contains({lit}, t))) = 0 "
            f"AS keep FROM {table} WHERE {text_col} IS NOT NULL")


def lexical_diversity(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical diversity via the UNBIASED Simpson repeat
    index: sum c_i(c_i-1) / (n(n-1)) — the probability two tokens drawn
    without replacement are the same type. Low = diverse text, high =
    degenerate repetition. Chosen over Shannon entropy because it is
    EXACT in integer ppm (no logs), so the cross-engine oracle contract
    holds bit-for-bit; it orders documents the same way on the
    degenerate-repetition tail entropy filters target.

    Shape: one (doc, token) map-side-combinable count, one doc-keyed
    agg — the token_stats shuffle pattern. Docs with n < 2 emit
    repeat_ppm = 0 (no pair exists)."""
    toks = tokens_sql(text_col, "spark", drop_empty=True)
    return (df.where(F.col(text_col).isNotNull())
            .select(id_col, F.explode(F.expr(toks)).alias("tok"))
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy(id_col)
            .agg(F.sum("c").alias("n"),
                 F.sum(F.expr("c * (c - 1)")).alias("rep"),
                 F.count(F.lit(1)).alias("n_types"))
            .select(id_col, F.col("n").cast("bigint").alias("n_tokens"),
                    F.col("n_types").cast("bigint").alias("n_types"),
                    F.expr("CAST(CASE WHEN n < 2 THEN 0 ELSE "
                           "(rep * 1000000L) DIV (n * (n - 1)) END "
                           "AS BIGINT)").alias("repeat_ppm")))


def lexical_diversity_oracle_sql(table: str = "documents",
                                 text_col: str = "text",
                                 id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica: same counts, same integer Simpson ppm."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    return f"""
WITH ld_c AS (
  SELECT {id_col}, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT {id_col}, unnest({toks}) AS tok FROM {table}
        WHERE {text_col} IS NOT NULL)
  GROUP BY {id_col}, tok)
SELECT {id_col}, CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(CASE WHEN SUM(c) < 2 THEN 0 ELSE
    (SUM(c * (c - 1)) * 1000000) // (SUM(c) * (SUM(c) - 1)) END
    AS BIGINT) AS repeat_ppm
FROM ld_c GROUP BY {id_col}"""


def tfidf_search(df: DataFrame, query_terms: list[str], k: int = 20,
                 text_col: str = "text", id_col: str = "doc_id"
                 ) -> DataFrame:
    """Ranked retrieval: score documents against a query term set by
    sum_t tf(t, d) * idf_ratio_ppm(t) — the inverted-index tf-idf
    search shape. The idf surrogate is the exact integer ratio
    (N * 10^6) DIV df(t) (monotone in ln(N/df), so the ranking agrees
    with the classic form; no logs keeps the score engine-exact).

    Scale shape: the corpus side is filtered to query terms IN-ROW
    (literal array, pure codegen) BEFORE the explode, so the shuffled
    relation is (query_term, doc) hits only — query-sized, not
    corpus-sized. df(t) is a |Q|-row aggregate broadcast back; the
    final top-k is TakeOrderedAndProject. Ties break to the smaller
    doc id."""
    toks = tokens_sql(text_col, "spark", drop_empty=False)
    lit = "array(" + ", ".join(
        "'" + t.replace("'", "\\'") + "'" for t in sorted(set(query_terms))
    ) + ")"
    hits = (df.where(F.col(text_col).isNotNull())
            .select(id_col,
                    F.explode(F.expr(
                        f"filter({toks}, t -> array_contains({lit}, t))"))
                    .alias("t"))
            .groupBy(id_col, "t")
            .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.where(F.col(text_col).isNotNull()) \
               .agg(F.count(F.lit(1)).alias("n"))
    idf = (hits.groupBy("t")
           .agg(F.count(F.lit(1)).alias("df_t"))
           .crossJoin(F.broadcast(n_docs))
           .select("t", F.expr("CAST((n * 1000000L) DIV df_t AS BIGINT)")
                   .alias("idf_ppm")))
    return (hits.join(F.broadcast(idf), "t")
            .groupBy(id_col)
            .agg(F.sum(F.expr("tf * idf_ppm")).alias("s"))
            .select(id_col, F.col("s").cast("bigint").alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))


def tfidf_search_oracle_sql(query_terms: list[str], k: int = 20,
                            table: str = "documents",
                            text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica: same hits, same integer idf ratio, same
    tie-break."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    lit = "[" + ", ".join(
        "'" + t.replace("'", "''") + "'" for t in sorted(set(query_terms))
    ) + "]"
    return f"""
WITH ts_hit AS (
  SELECT {id_col}, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest(list_filter({toks},
          t -> list_contains({lit}, t))) AS t
        FROM {table} WHERE {text_col} IS NOT NULL)
  GROUP BY {id_col}, t),
ts_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {table}
         WHERE {text_col} IS NOT NULL),
ts_idf AS (
  SELECT t, CAST((n.n * 1000000) // COUNT(*) AS BIGINT) AS idf_ppm
  FROM ts_hit CROSS JOIN ts_n n GROUP BY t, n.n)
SELECT h.{id_col}, CAST(SUM(h.tf * i.idf_ppm) AS BIGINT) AS score
FROM ts_hit h JOIN ts_idf i USING (t)
GROUP BY h.{id_col}
ORDER BY score DESC, h.{id_col} ASC LIMIT {k}"""


def normalize_text_stats(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Unicode normalization stage (the ingest-side text canonicalizer):
    strip C0/C1 control characters (keeping \\t \\n \\r), then NFC-
    compose — so byte-different but canonically-equal texts (composed
    vs combining-mark sequences) map to one canonical form before any
    hashing/dedup. Emits integer-exact audit columns: chars stripped,
    post-NFC code-point length, and the md5 of the canonical form (the
    column dedup keys would use).

    One Arrow-batched pandas UDF (stdlib unicodedata — the reference
    normalizer), zero shuffle. The DuckDB oracle recomputes with its
    native nfc_normalize + the same control-class regex, so two
    INDEPENDENT Unicode implementations must agree on every row."""
    import re
    import unicodedata

    ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")

    @F.pandas_udf("n_stripped bigint, norm_len bigint, norm_hash string")
    def norm(texts: pd.Series) -> pd.DataFrame:
        import hashlib
        ns, nl, nh = [], [], []
        for t in texts:
            t = t or ""
            stripped = ctrl.sub("", t)
            ns.append(len(t) - len(stripped))
            canon = unicodedata.normalize("NFC", stripped)
            nl.append(len(canon))
            nh.append(hashlib.md5(canon.encode("utf-8")).hexdigest())
        return pd.DataFrame({"n_stripped": ns, "norm_len": nl,
                             "norm_hash": nh})

    out = df.select(id_col, norm(F.col(text_col)).alias("n"))
    return out.select(id_col, "n.n_stripped", "n.norm_len", "n.norm_hash")


def normalize_text_oracle_sql(text_expr: str, table: str = "documents",
                              id_col: str = "doc_id") -> str:
    """LIVE DuckDB replica via the ENGINE'S OWN nfc_normalize — an
    independent Unicode implementation, not a replay of ours."""
    ctrl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    stripped = f"regexp_replace({text_expr}, '{ctrl}', '', 'g')"
    return (f"SELECT {id_col}, "
            f"CAST(length({text_expr}) - length({stripped}) AS BIGINT) "
            f"AS n_stripped, "
            f"CAST(length(nfc_normalize({stripped})) AS BIGINT) "
            f"AS norm_len, "
            f"md5(nfc_normalize({stripped})) AS norm_hash "
            f"FROM {table}")


def key_skew_report(df: DataFrame, key_col: str, top: int = 10
                    ) -> DataFrame:
    """Partition-skew diagnosis — the operational pre-flight a 100 TB
    job runs before keying a shuffle: per-key row counts, each key's
    share of the table in exact integer ppm, and its ratio to the mean
    key load in ppm (10^6 = a perfectly balanced key; 50x mean = the
    straggler that needs salting). Returns the `top` heaviest keys,
    ties to the smaller key string.

    Shape: one map-side-combinable count per key, a 1-row global agg
    broadcast back, TakeOrderedAndProject — diagnosis costs one scan,
    never a sort of the key space."""
    counts = (df.groupBy(F.col(key_col).cast("string").alias("key"))
              .agg(F.count(F.lit(1)).alias("n")))
    tot = counts.agg(F.sum("n").alias("total"),
                     F.count(F.lit(1)).alias("n_keys"))
    return (counts.crossJoin(F.broadcast(tot))
            .select("key", F.col("n").cast("bigint").alias("n_rows"),
                    F.expr("CAST((n * 1000000L) DIV total AS BIGINT)")
                    .alias("share_ppm"),
                    F.expr("CAST((n * n_keys * 1000000L) DIV total "
                           "AS BIGINT)").alias("vs_mean_ppm"))
            .orderBy(F.desc("n_rows"), F.asc_nulls_last("key"))
            .limit(top))


def key_skew_oracle_sql(key_expr: str, top: int = 10,
                        table: str = "events") -> str:
    """LIVE DuckDB replica of the skew report."""
    return f"""
WITH ks_c AS (
  SELECT CAST({key_expr} AS VARCHAR) AS key,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {table} GROUP BY 1),
ks_t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                CAST(COUNT(*) AS BIGINT) AS n_keys FROM ks_c)
SELECT key, n AS n_rows,
  CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
  CAST((n * n_keys * 1000000) // total AS BIGINT) AS vs_mean_ppm
FROM ks_c CROSS JOIN ks_t
ORDER BY n_rows DESC, key ASC LIMIT {top}"""


def length_histogram(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus length distribution in EXACT log2 buckets: bucket =
    floor(log2(n_tokens)) computed as length(bin(n)) - 1 — pure integer
    string algebra, no floating log whose last ulp could flip a bucket
    boundary between engines. Bucket -1 collects empty documents.
    One combinable projection + a buckets-sized groupBy."""
    n = f"size({tokens_sql(text_col, 'spark', drop_empty=True)})"
    bucket = (f"CASE WHEN {n} <= 0 THEN -1 "
              f"ELSE length(bin({n})) - 1 END")
    return (df.where(F.col(text_col).isNotNull())
            .select(F.expr(bucket).cast("int").alias("log2_tokens"))
            .groupBy("log2_tokens")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


def length_histogram_oracle_sql(table: str = "documents",
                                text_col: str = "text") -> str:
    """LIVE DuckDB replica: same tokenizer, same bin()-string log2."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    n = f"len({toks})"
    return (f"SELECT CAST(CASE WHEN {n} <= 0 THEN -1 "
            f"ELSE length(bin({n})) - 1 END AS INTEGER) AS log2_tokens, "
            f"CAST(COUNT(*) AS BIGINT) AS n_docs "
            f"FROM {table} WHERE {text_col} IS NOT NULL "
            f"GROUP BY 1")
