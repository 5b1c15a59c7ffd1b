"""Corpus-trained word n-gram language model + integer-exact fluency
scoring — the CCNet / Gopher "KenLM perplexity filter" pipeline stage.

The canonical web-scale quality signal: train an n-gram LM on (a trusted
slice of) the corpus, score every document, drop the tails. The existing
`kernels/crosscheck.py` perplexity is a CHARACTER-trigram surprise proxy
against the pre-trained langid model; this operator is the other half —
the LM is trained ON the corpus, distributedly:

  1. TRAIN — unigram + bigram counts: one `posexplode`-free in-row bigram
     construction (`transform` over the token array with the index
     lambda), then two map-side-combinable groupBy-count aggregations.
     Shuffled volume is the DISTINCT-gram histogram, not the corpus
     (Zipf). `min_count` prunes the tail — the standard KenLM pruning —
     which is what keeps the model broadcastable at scale.

  2. SCORE — stupid backoff (Brants et al. 2007), integer-exact in ppm:
         seen bigram:  score = (c(h,w) * 10^6) // c(h)
         backoff:      score = (c(w) * 400_000) // N        (alpha = 0.4)
     Every quantity is a count, every division has a nonnegative
     numerator, so Spark DIV / DuckDB // agree and the DuckDB oracle is
     LIVE (oracle replays training + scoring end-to-end). Per-doc output
     is (n scored positions, sum, integer mean) — high mean = fluent /
     in-domain text, the keep side of the CCNet filter.

Scale notes (100 TB): the scoring joins broadcast the pruned count
tables (a min_count-pruned web bigram table is ~10^7-10^8 rows — at the
upper end switch the hint off and let it shuffle on the gram key; the
only skewed key class is stop-word histories, which the pruned-broadcast
path never shuffles at all). Two corpus scans total: one to count, one
to score.

No analogue in the reference (CLD2 ships pre-trained char tables; it
never trains on the corpus); cited absence: SURVEY.md SS2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cld2_spark.operators.tokenizer import tokens_sql

ALPHA_PPM = 400_000          # stupid-backoff alpha = 0.4, in ppm
MIN_COUNT = 1                # KenLM-style pruning threshold


def _bigrams_expr(toks_col: str) -> str:
    """In-row (history, word) structs — no self-join, no posexplode."""
    return (f"transform(slice({toks_col}, 1, size({toks_col}) - 1), "
            f"(t, i) -> struct(t AS h, element_at({toks_col}, i + 2) AS w))")


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = tokens_sql(text_col, "spark", drop_empty=True)
    return (df.where(F.col(text_col).isNotNull())
              .select(id_col, F.expr(toks).alias("__toks")))


def train_bigram_lm(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", min_count: int = MIN_COUNT
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigram counts, bigram counts, total-token count) — two map-side
    combinable aggregations over one tokenized scan."""
    tok = _tokenized(df, text_col, id_col)
    uni = (tok.select(F.explode("__toks").alias("w"))
              .groupBy("w").agg(F.count("*").alias("cw"))
              .where(F.col("cw") >= min_count))
    big = (tok.where(F.size("__toks") >= 2)
              .select(F.explode(F.expr(_bigrams_expr("__toks"))).alias("b"))
              .select(F.col("b.h").alias("h"), F.col("b.w").alias("w"))
              .groupBy("h", "w").agg(F.count("*").alias("chw"))
              .where(F.col("chw") >= min_count))
    total = uni.agg(F.sum("cw").alias("n_tokens"))
    return uni, big, total


def score_stupid_backoff(df: DataFrame, uni: DataFrame, big: DataFrame,
                         total: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         broadcast_model: bool = True) -> DataFrame:
    """Per-doc integer fluency score: (doc_id, n_bigrams, sum_score_ppm,
    avg_score_ppm). One scoring scan; the model travels broadcast (set
    broadcast_model=False past ~10^8 pruned grams to shuffle on the gram
    key instead)."""
    hint = F.broadcast if broadcast_model else (lambda d: d)
    tok = _tokenized(df, text_col, id_col).where(F.size("__toks") >= 2)
    pos = (tok.select(id_col,
                      F.explode(F.expr(_bigrams_expr("__toks"))).alias("b"))
              .select(id_col, F.col("b.h").alias("h"),
                      F.col("b.w").alias("w")))
    uni_h = hint(uni.select(F.col("w").alias("h"),
                            F.col("cw").alias("ch")))
    scored = (pos
              .join(hint(big), ["h", "w"], "left")
              .join(uni_h, ["h"], "left")
              .join(hint(uni), ["w"], "left")
              .crossJoin(hint(total))
              .select(
                  id_col,
                  F.expr(
                      f"CASE WHEN chw IS NOT NULL "
                      f"THEN (chw * CAST(1000000 AS BIGINT)) DIV ch "
                      f"ELSE (coalesce(cw, 0) * "
                      f"CAST({ALPHA_PPM} AS BIGINT)) DIV n_tokens END"
                  ).alias("score_ppm")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("score_ppm").alias("sum_score_ppm"))
            .select(id_col, "n_bigrams", "sum_score_ppm",
                    F.expr("sum_score_ppm DIV n_bigrams")
                     .alias("avg_score_ppm")))


def lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             min_count: int = MIN_COUNT) -> DataFrame:
    """Train-on-corpus + score-the-corpus in one call (the self-scoring
    CCNet configuration; for the trusted-slice configuration pass a
    different `df` to train_bigram_lm)."""
    uni, big, total = train_bigram_lm(df, text_col, id_col, min_count)
    return score_stupid_backoff(df, uni, big, total, text_col, id_col)


def ccnet_buckets(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", size_col: str = "n_chars",
                  min_count: int = MIN_COUNT) -> DataFrame:
    """CCNet head/middle/tail corpus partition (Wenzek et al. 2020):
    order documents by LM fluency (best first) and cut the corpus into
    three buckets each holding one third of the CHARACTERS — the
    published rule is thirds of corpus volume, not thirds of document
    count, so long documents move the boundary.

    Integer-exact end to end: the fluency key is `lm_score`'s ppm
    integer, the cumulative character count is an exact distributed
    prefix sum (`operators/prefix.running_total` — range partition +
    per-partition offsets, never a single-task global window), and the
    tertile test is cross-multiplied (`3 * cum <= tot`), so the DuckDB
    oracle replays training, scoring, the scan, and the cut live.

    Docs with fewer than two tokens have no LM score and no bucket
    (standard CCNet behavior: unscorable fragments are filtered before
    bucketing).
    """
    from cld2_spark.operators.prefix import running_total

    scored = lm_score(df, text_col, id_col, min_count)
    sized = (scored.join(df.select(id_col, size_col), id_col)
             .withColumn("__neg", -F.col("avg_score_ppm")))
    cum = running_total(sized, ["__neg", id_col], size_col,
                        out_col="cum_chars")
    tot = sized.agg(F.sum(size_col).cast("bigint").alias("__tot"))
    return (cum.crossJoin(F.broadcast(tot))
            .select(id_col, "avg_score_ppm",
                    F.col(size_col).cast("bigint").alias(size_col),
                    "cum_chars",
                    F.expr("CASE WHEN 3 * cum_chars <= __tot THEN 'head' "
                           "WHEN 3 * cum_chars <= 2 * __tot THEN 'middle' "
                           "ELSE 'tail' END").alias("bucket")))


def ccnet_buckets_oracle_sql(table: str = "documents",
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             size_col: str = "n_chars",
                             min_count: int = MIN_COUNT) -> str:
    """LIVE DuckDB replica: the embedded lm_score oracle feeds an exact
    windowed running sum (ordering keys are unique, so RANGE == ROWS)
    and the same cross-multiplied tertile rule."""
    lm = lm_score_oracle_sql(table, text_col, id_col, min_count)
    return f"""
WITH cb_lm AS MATERIALIZED (FROM ({lm})),
cb_j AS (
  SELECT l.{id_col}, l.avg_score_ppm, CAST(d.{size_col} AS BIGINT) AS sz
  FROM cb_lm l JOIN {table} d USING ({id_col})),
cb_c AS (
  SELECT {id_col}, avg_score_ppm, sz,
    CAST(SUM(sz) OVER (ORDER BY avg_score_ppm DESC, {id_col}) AS BIGINT)
      AS cum_chars,
    CAST(SUM(sz) OVER () AS BIGINT) AS tot
  FROM cb_j)
SELECT {id_col}, avg_score_ppm, sz AS {size_col}, cum_chars,
  CASE WHEN 3 * cum_chars <= tot THEN 'head'
       WHEN 3 * cum_chars <= 2 * tot THEN 'middle'
       ELSE 'tail' END AS bucket
FROM cb_c"""


def lm_score_oracle_sql(table: str = "documents", text_col: str = "text",
                        id_col: str = "doc_id",
                        min_count: int = MIN_COUNT) -> str:
    """LIVE DuckDB replica: trains the same LM and scores with the same
    integer algebra."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    return f"""
WITH lm_tok AS MATERIALIZED (
  SELECT {id_col}, {toks} AS toks FROM {table}
  WHERE {text_col} IS NOT NULL),
lm_uni AS MATERIALIZED (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT unnest(toks) AS tok FROM lm_tok)
  GROUP BY tok HAVING COUNT(*) >= {min_count}),
lm_pos AS MATERIALIZED (
  SELECT {id_col}, unnest(toks[1:len(toks) - 1]) AS h,
         unnest(toks[2:len(toks)]) AS w
  FROM lm_tok WHERE len(toks) >= 2),
lm_big AS MATERIALIZED (
  SELECT h, w, CAST(COUNT(*) AS BIGINT) AS chw FROM lm_pos
  GROUP BY h, w HAVING COUNT(*) >= {min_count}),
lm_n AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tokens FROM lm_uni),
lm_scored AS (
  SELECT p.{id_col},
    CASE WHEN b.chw IS NOT NULL
         THEN (b.chw * CAST(1000000 AS BIGINT)) // uh.cw
         ELSE (COALESCE(uw.cw, 0) * CAST({ALPHA_PPM} AS BIGINT)) // n.n_tokens
    END AS score_ppm
  FROM lm_pos p
  LEFT JOIN lm_big b ON p.h = b.h AND p.w = b.w
  LEFT JOIN lm_uni uh ON p.h = uh.w
  LEFT JOIN lm_uni uw ON p.w = uw.w
  CROSS JOIN lm_n n)
SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm,
  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm
FROM lm_scored GROUP BY {id_col}"""


def pmi_collocations(df: DataFrame, k: int = 50, text_col: str = "text",
                     id_col: str = "doc_id", min_count: int = 5
                     ) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the classic
    corpus-statistics extractor (Church & Hanks 1990) a curation
    pipeline uses to find multiword terms worth protecting from
    tokenizer splits.

    PMI = log p(h,w) / (p(h) p(w)) is monotone in the integer ratio
    c(h,w) * N / (c(h) * c(w)), so the rank key is the engine-exact

        pmi_ratio_ppm = (c(h,w) * N * 10^6) DIV (c(h) * c(w))

    (counts and nonnegative floor division only — no logs, no floats;
    the same integer-rank recipe as tf-idf and DSIR). `min_count`
    prunes hapax pairs exactly as in the published form.

    Scale: reuses the bigram-LM count aggregation (map-side combinable,
    Zipf-pruned shuffle); the rank join is gram-keyed on the PRUNED
    tables; selection is TakeOrderedAndProject. int64 bound:
    c(h,w) * N * 10^6 < 2^63 — holds to N ~ 9e5 * max-pair-count;
    past it flip the numerator to DECIMAL(38,0), ranking unchanged."""
    uni, big, total = train_bigram_lm(df, text_col, id_col, min_count=1)
    big = big.where(F.col("chw") >= min_count)
    uh = uni.select(F.col("w").alias("h"), F.col("cw").alias("ch"))
    return (big.join(F.broadcast(uh), "h").join(F.broadcast(uni), "w")
            .crossJoin(F.broadcast(total))
            .select("h", "w", "chw",
                    F.expr("(chw * n_tokens * CAST(1000000 AS BIGINT)) "
                           "DIV (ch * cw)").alias("pmi_ratio_ppm"))
            .orderBy(F.desc("pmi_ratio_ppm"), F.asc("h"), F.asc("w"))
            .limit(k))


def pmi_oracle_sql(table: str = "documents", k: int = 50,
                   text_col: str = "text", id_col: str = "doc_id",
                   min_count: int = 5) -> str:
    """LIVE DuckDB replica: same counts, same integer PMI ratio."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    return f"""
WITH pm_tok AS MATERIALIZED (
  SELECT {id_col}, {toks} AS toks FROM {table}
  WHERE {text_col} IS NOT NULL),
pm_uni AS MATERIALIZED (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT unnest(toks) AS tok FROM pm_tok) GROUP BY tok),
pm_big AS (
  SELECT h, w, CAST(COUNT(*) AS BIGINT) AS chw
  FROM (SELECT unnest(toks[1:len(toks) - 1]) AS h,
               unnest(toks[2:len(toks)]) AS w
        FROM pm_tok WHERE len(toks) >= 2)
  GROUP BY h, w HAVING COUNT(*) >= {min_count}),
pm_n AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tokens FROM pm_uni)
SELECT b.h, b.w, b.chw,
  (b.chw * n.n_tokens * 1000000) // (uh.cw * uw.cw) AS pmi_ratio_ppm
FROM pm_big b JOIN pm_uni uh ON b.h = uh.w
JOIN pm_uni uw ON b.w = uw.w CROSS JOIN pm_n n
ORDER BY pmi_ratio_ppm DESC, b.h ASC, b.w ASC LIMIT {k}"""
