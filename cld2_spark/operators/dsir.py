"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023), the hashed-n-gram importance-weighting data selector.

The published pipeline: featurize every document as a bag of HASHED
word uni+bigrams (a fixed B-bucket space, so the two "language models"
are just two B-length count vectors), fit a target model p over a small
trusted slice and a raw model q over the corpus, weight every document
by its target-vs-raw likelihood ratio, and resample the corpus toward
the target distribution.

This implementation is the INTEGER-EXACT rational variant: each hashed
feature carries the Laplace-smoothed frequency ratio in ppm

    w(f) = ((cnt_p(f) + 1) * (N_q + B) * 10^6)
           DIV ((cnt_q(f) + 1) * (N_p + B))

and a document's score is the sum of w(f) over its gram occurrences —
every quantity a count, every division a nonnegative-numerator floor
division, so Spark `DIV`, DuckDB `//`, and Python `//` agree and the
oracle replays featurization, both model fits, and the selection LIVE.
(The paper sums LOG ratios and adds Gumbel noise for sampling-without-
replacement; the log and the noise are float-valued and stochastic, so
the verifiable twin ships the monotone-per-feature rational form with a
deterministic top-k. Swap the weight expression for log-space floats in
production if bit-replayability is not required; the plan shape is
identical.)

Scale shape (100 TB): the feature space is CLOSED (B buckets), so both
model fits are map-side-combinable aggregates whose shuffle volume is
<= B rows per map task — the count-min property, here used for the
model rather than a sketch. The weight table is <= B rows and travels
broadcast; the corpus is scanned twice (fit q, score) and never
shuffles on a data-dependent key. The target slice is small by
definition (that is the premise of DSIR). Selection is
TakeOrderedAndProject: k rows per partition move, never the corpus.

Magnitude bound for the int64 path: (max_cnt_p + 1) * (N_q + B) * 10^6
must stay below 2^63 — holds for target slices up to ~10^6 tokens
against arbitrarily large corpora once the weight is factored as
ppm-vs-target first (documented below); beyond that, production uses
the float log form anyway.

No analogue in the reference (CLD2 never fits corpus-side models);
cited absence: SURVEY.md SS2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cld2_spark.operators.tokenizer import tokens_sql

N_BUCKETS = 4096


def _grams_expr(toks: str) -> str:
    """Uni+bigram string array, in-row (no posexplode, no self-join)."""
    big = (f"transform(slice({toks}, 1, size({toks}) - 1), "
           f"(t, i) -> concat(t, ' ', element_at({toks}, i + 2)))")
    return (f"CASE WHEN size({toks}) >= 2 THEN concat({toks}, {big}) "
            f"ELSE {toks} END")


def _doc_buckets(df: DataFrame, text_col: str, id_col: str,
                 n_buckets: int) -> DataFrame:
    """(id, b): one row per gram OCCURRENCE, hashed into [0, B)."""
    toks = tokens_sql(text_col, "spark", drop_empty=True)
    return (df.where(F.col(text_col).isNotNull())
            .select(id_col, F.explode(F.expr(_grams_expr(toks)))
                    .alias("__g"))
            .select(id_col,
                    F.expr(f"CAST(conv(substr(md5(__g), 1, 8), 16, 10) "
                           f"AS BIGINT) % {n_buckets}").alias("b")))


def _model_counts(df: DataFrame, text_col: str, id_col: str,
                  n_buckets: int, cnt_name: str) -> DataFrame:
    """The B-bucket hashed-n-gram 'language model': a bounded-width
    map-side-combinable aggregate (<= B rows per map task)."""
    return (_doc_buckets(df, text_col, id_col, n_buckets)
            .groupBy("b").agg(F.count(F.lit(1)).alias(cnt_name)))


def dsir_select(raw: DataFrame, target: DataFrame, k: int = 50,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = N_BUCKETS) -> DataFrame:
    """Top-k raw documents by hashed-n-gram importance weight toward the
    target slice. Returns (id, n_grams, sum_wppm, avg_wppm)."""
    b = n_buckets
    q = _model_counts(raw, text_col, id_col, b, "cq")
    p = _model_counts(target, text_col, id_col, b, "cp")
    np_ = p.agg(F.sum("cp").alias("n_p"))
    nq_ = q.agg(F.sum("cq").alias("n_q"))
    weights = (q.join(p, "b", "left")
               .crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(nq_))
               .select("b", F.expr(
                   f"((coalesce(cp, CAST(0 AS BIGINT)) + 1) * (n_q + {b}) "
                   f"* CAST(1000000 AS BIGINT)) "
                   f"DIV ((cq + 1) * (n_p + {b}))").alias("wppm")))
    scored = (_doc_buckets(raw, text_col, id_col, b)
              .join(F.broadcast(weights), "b")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   F.sum("wppm").alias("sum_wppm"))
              .select(id_col, "n_grams", "sum_wppm",
                      F.expr("sum_wppm DIV n_grams").alias("avg_wppm")))
    return (scored.orderBy(F.desc("avg_wppm"), F.asc(id_col)).limit(k))


def dsir_oracle_sql(target_pred: str, k: int = 50, table: str = "documents",
                    text_col: str = "text", id_col: str = "doc_id",
                    n_buckets: int = N_BUCKETS) -> str:
    """LIVE DuckDB replica (target slice = `table` WHERE target_pred)."""
    b = n_buckets
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    grams = (f"CASE WHEN len(toks) >= 2 THEN list_concat(toks, "
             f"list_transform(generate_series(1, len(toks) - 1), "
             f"i -> toks[i] || ' ' || toks[i + 1])) ELSE toks END")
    return f"""
WITH ds_tok AS MATERIALIZED (
  SELECT {id_col}, {toks} AS toks, ({target_pred}) AS is_t
  FROM {table} WHERE {text_col} IS NOT NULL),
ds_b AS MATERIALIZED (
  SELECT {id_col}, is_t,
    ('0x' || substr(md5(g), 1, 8))::BIGINT % {b} AS b
  FROM (SELECT {id_col}, is_t, unnest({grams}) AS g FROM ds_tok)),
ds_q AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cq FROM ds_b GROUP BY b),
ds_p AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cp FROM ds_b
         WHERE is_t GROUP BY b),
ds_n AS (SELECT (SELECT CAST(SUM(cp) AS BIGINT) FROM ds_p) AS n_p,
                (SELECT CAST(SUM(cq) AS BIGINT) FROM ds_q) AS n_q),
ds_w AS (
  SELECT q.b,
    ((COALESCE(p.cp, 0) + 1) * (n.n_q + {b}) * 1000000)
      // ((q.cq + 1) * (n.n_p + {b})) AS wppm
  FROM ds_q q LEFT JOIN ds_p p USING (b) CROSS JOIN ds_n n),
ds_s AS (
  SELECT d.{id_col}, CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(w.wppm) AS BIGINT) AS sum_wppm,
    CAST(SUM(w.wppm) // COUNT(*) AS BIGINT) AS avg_wppm
  FROM ds_b d JOIN ds_w w USING (b) GROUP BY d.{id_col})
SELECT * FROM ds_s ORDER BY avg_wppm DESC, {id_col} ASC LIMIT {k}"""
