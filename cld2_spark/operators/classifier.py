"""Distributed quality-classifier TRAINING: integer-exact logistic regression
over hashed bag-of-words features (the fastText-supervised / CCNet
quality-classifier shape).

The north-star pipeline consumes classifier scores (fastText langid
cross-check, quality model); this operator closes the loop by TRAINING such
a linear classifier distributedly, in the shape that scales to a 100 TB
corpus:

  1. FEATURIZE — one pure-codegen projection: portable whitespace
     tokenization, feature id = md5-hash(word) mod `dim` (the fastText
     hashing trick), per-doc (feature, count) pairs built with array
     higher-order functions (O(k^2) in the per-doc token count, zero
     shuffle), plus an explicit bias feature id=dim with x=1. The
     featurized corpus is persisted once and reused by every iteration.

  2. TRAIN — full-batch gradient descent. Each iteration is ONE codegen
     scan (margin z = sum(w[f]*x) via `aggregate` over the in-row feature
     list with the weight vector inlined as an array literal — no join)
     plus ONE map-side-combinable aggregation down to `dim`+1 gradient
     rows, collected to the driver for the weight update. Per-iteration
     shuffled volume is MODEL-sized, not corpus-sized — the same
     vocabulary-sized-driver-step discipline as the BPE trainer and the
     int8 k-means.

  3. INTEGER-EXACT EVERYWHERE — weights are int64 fixed-point (scale
     S=2^20); the sigmoid is the odd-symmetric rational approximation
         p(z) = S/2 + sign(z) * (|z|*S) // (2*(S+|z|))
     (p in (0,S), exact integer algebra, every division has a nonnegative
     numerator so Spark DIV / DuckDB // / Python // all agree); gradients
     g_f = sum(err*x) and updates w += sign(g)*(|g|*LR_NUM)//(n*LR_DEN*2^(k//2))
     are order-independent integer sums. A DuckDB WITH-chain therefore
     replays the ENTIRE training run bit-for-bit — the oracle is live,
     not frozen (`oracle_ctes`), the same engine-exact recipe as the
     integer-sum k-means centroids and the integer 2-sigma anomaly rule.

Scale notes (100 TB / 10^12 docs): the weight literal is fine to dim~2^16;
past that, broadcast-join the weight table instead of inlining (same
algebra). The int64 gradient sum is safe while S * sum_i(x_if) < 2^63,
i.e. ~8.8e12 token occurrences per feature; beyond that switch the SUM to
DECIMAL(38,0) — order-independence and exactness are preserved.

No analogue in the reference (CLD2 ships pre-trained tables; it never
trains); cited absence: SURVEY.md SS2.13. The reference's own training
pipeline is offline C++ (not in the checkout).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (IntegerType, LongType, StructField,
                               StructType)

from cld2_spark.operators.tokenizer import tokens_sql

DIM = 64                    # hash buckets (bias feature sits at id=DIM)
SCALE = 1 << 20             # fixed-point scale S
Z_CAP = 1 << 40             # margin clamp (keeps |z|*S within int64)
LR_NUM, LR_DEN = 2, 1       # base step = (|g| * LR_NUM) // (n * LR_DEN * 2^(k//2))
HALVE_EVERY = 2             # geometric LR decay damps full-batch oscillation
ITERS = 12

# Default demo task: does the doc mention 'fast' more often than 'slow'?
# Balanced, linear in the hashed counts (+w on fast's bucket, -w on
# slow's), so it exercises real sign-discriminative learning; the hash-
# collision noise in those buckets is the honest fastText-trick error
# floor. Label is computed per dialect (lambda syntax differs).
def _label_sql(dialect: str) -> str:
    toks = tokens_sql("text", dialect, drop_empty=False)
    size, filt = ("size", "filter") if dialect == "spark" else (
        "len", "list_filter")
    n = [f"{size}({filt}({toks}, t -> t = '{w}'))" for w in ("fast", "slow")]
    return f"CASE WHEN {n[0]} > {n[1]} THEN 1 ELSE 0 END"


DEFAULT_LABEL = _label_sql("spark")
DEFAULT_LABEL_DUCK = _label_sql("duckdb")


def _feat_ids_spark(toks_expr: str, dim: int) -> str:
    """token array -> feature-id array (md5 hashing trick, cross-engine)."""
    return (f"transform({toks_expr}, t -> "
            f"CAST(conv(substring(md5(t), 1, 8), 16, 10) % {dim} AS INT))")


def featurize(df: DataFrame, dim: int = DIM, text_col: str = "text",
              id_col: str = "doc_id",
              label_sql: str = DEFAULT_LABEL) -> DataFrame:
    """(id, y, feats: array<struct<f:int, x:bigint>>) — pure codegen.

    Per-doc (feature, count) pairs via array_distinct + filter-size
    (O(tokens^2) per row, corpus-scan only, zero shuffle), plus the bias
    feature (f=dim, x=1) appended last.
    """
    toks = tokens_sql(text_col, "spark", drop_empty=True)
    fids = _feat_ids_spark(toks, dim)
    base = df.where(F.col(text_col).isNotNull()).select(
        id_col,
        F.expr(label_sql).cast("int").alias("y"),
        F.expr(fids).alias("__fs"))
    feats = ("concat("
             "transform(array_distinct(__fs), f -> struct(f AS f, "
             "CAST(size(filter(__fs, g -> g = f)) AS BIGINT) AS x)), "
             f"array(struct(CAST({dim} AS INT) AS f, "
             "CAST(1 AS BIGINT) AS x)))")
    return base.select(id_col, "y", F.expr(feats).alias("feats"))


def _margin_expr(weights: List[int]) -> str:
    """z = clamp(sum(w[f]*x)) with the weight vector inlined as an array
    literal — in-row aggregate, NO join against a weight table."""
    warr = "array(" + ", ".join(f"{w}L" for w in weights) + ")"
    z = (f"aggregate(feats, CAST(0 AS BIGINT), "
         f"(acc, s) -> acc + element_at({warr}, s.f + 1) * s.x)")
    return f"least(greatest({z}, {-Z_CAP}L), {Z_CAP}L)"


def _prob_expr(z_col: str) -> str:
    """Fixed-point rational sigmoid; every DIV numerator is nonnegative."""
    s, h = SCALE, SCALE // 2
    return (f"({h}L + (CASE WHEN {z_col} < 0 THEN -1L ELSE 1L END) * "
            f"((abs({z_col}) * {s}L) DIV (2 * ({s}L + abs({z_col})))))")


def train(feat_df: DataFrame, dim: int = DIM, iters: int = ITERS,
          id_col: str = "doc_id") -> List[int]:
    """Full-batch GD; returns the int64 fixed-point weight vector
    (length dim+1, bias last). `feat_df` should be persisted by the
    caller — each iteration rescans it once.

    (A broadcast-column variant of the weight vector was tried and
    REVERTED: building + broadcasting a 1-row weight relation per
    iteration cost more than the literal it replaced — Spark's codegen
    references literals indirectly, so the literal does not force a
    per-iteration recompile. Measured 3.8 s -> 8.3 s with the
    broadcast; literal restored.)"""
    n = feat_df.count()
    # Size the per-iteration task count to the DATA, not the session's
    # shuffle setting: a full-batch GD scan is microseconds per row, so
    # a tiny cached corpus split across every core pays 12x the task-
    # scheduling cost for no compute gain (measured 4.1 s -> 2.2 s at
    # sf0.1/local[32], bit-identical weights). When n/rows_per_task
    # exceeds the cluster's parallelism this is a NO-OP — at real corpus
    # scale every core stays busy and coalesce() is never applied.
    rows_per_task = 4096
    par = feat_df.sparkSession.sparkContext.defaultParallelism
    n_tasks = min(par, max(1, n // rows_per_task))
    if n_tasks < par:
        try:
            if feat_df.rdd.getNumPartitions() > n_tasks:
                feat_df = feat_df.coalesce(n_tasks)
        except Exception:
            pass  # plan metadata unavailable: keep the original layout
    w = [0] * (dim + 1)
    for k in range(iters):
        decay = 1 << (k // HALVE_EVERY)
        zc = _margin_expr(w)
        err = f"(y * {SCALE}L - {_prob_expr('__z')})"
        grads = (feat_df
                 .select(F.expr(zc).alias("__z"), "y", "feats")
                 .select(F.expr(err).alias("__e"),
                         F.explode("feats").alias("s"))
                 .groupBy(F.col("s.f").alias("f"))
                 .agg(F.sum(F.col("__e") * F.col("s.x")).alias("g"))
                 .collect())
        for row in grads:
            g = int(row["g"])
            step = (abs(g) * LR_NUM) // (n * LR_DEN * decay)
            w[row["f"]] += step if g >= 0 else -step
    return w


def weights_df(spark: SparkSession, weights: List[int]) -> DataFrame:
    schema = StructType([StructField("feature_id", IntegerType(), False),
                         StructField("weight", LongType(), False)])
    return spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(weights)], schema)


def score(feat_df: DataFrame, weights: List[int],
          id_col: str = "doc_id") -> DataFrame:
    """Per-doc margin / prediction with the trained weights — one codegen
    scan, zero exchanges past the featurize."""
    zc = _margin_expr(weights)
    return (feat_df
            .select(id_col, "y", F.expr(zc).alias("margin"))
            .select(id_col,
                    F.col("margin").cast("long").alias("margin"),
                    F.expr("CASE WHEN margin > 0 THEN 1 ELSE 0 END")
                     .cast("int").alias("pred"),
                    F.col("y").cast("int").alias("label")))


# ---------------------------------------------------------------------------
# live DuckDB oracle: replay the whole training run as a WITH-chain
# ---------------------------------------------------------------------------

def oracle_ctes(dim: int = DIM, iters: int = ITERS,
                docs_table: str = "documents", text_col: str = "text",
                id_col: str = "doc_id",
                label_sql: str = DEFAULT_LABEL_DUCK) -> str:
    """CTE chain ending in cf_w{iters} (f, w) — bit-exact replica of
    train(); append a final SELECT for weights or per-doc scores."""
    s, h, zc = SCALE, SCALE // 2, Z_CAP
    parts = [
        f"cf_docs AS MATERIALIZED (SELECT {id_col}, CAST({label_sql} AS INT) AS y, "
        f"{tokens_sql(text_col, 'duckdb', drop_empty=True)} AS toks "
        f"FROM {docs_table} WHERE {text_col} IS NOT NULL)",
        f"cf_tok AS MATERIALIZED (SELECT {id_col}, y, unnest(toks) AS tok FROM cf_docs)",
        f"cf_x AS MATERIALIZED (SELECT {id_col}, y, CAST(('0x' || substr(md5(tok), 1, 8))"
        f"::BIGINT % {dim} AS INT) AS f, CAST(COUNT(*) AS BIGINT) AS x "
        f"FROM cf_tok GROUP BY 1, 2, 3 "
        f"UNION ALL SELECT {id_col}, y, CAST({dim} AS INT), "
        f"CAST(1 AS BIGINT) FROM cf_docs)",
        "cf_n AS MATERIALIZED (SELECT COUNT(*) AS n FROM cf_docs)",
        f"cf_w0 AS MATERIALIZED (SELECT CAST(f AS INT) AS f, CAST(0 AS BIGINT) AS w "
        f"FROM range(0, {dim + 1}) t(f))",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"cf_z{k} AS MATERIALIZED (SELECT x.{id_col}, MAX(x.y) AS y, "
            f"LEAST(GREATEST(CAST(SUM(w.w * x.x) AS BIGINT), {-zc}), {zc}) "
            f"AS z FROM cf_x x JOIN cf_w{k - 1} w ON x.f = w.f "
            f"GROUP BY x.{id_col})")
        parts.append(
            f"cf_e{k} AS MATERIALIZED (SELECT {id_col}, CAST(y * {s} - ({h} + "
            f"(CASE WHEN z < 0 THEN -1 ELSE 1 END) * "
            f"((abs(z) * {s}) // (2 * ({s} + abs(z))))) AS BIGINT) AS err "
            f"FROM cf_z{k})")
        parts.append(
            f"cf_g{k} AS MATERIALIZED (SELECT x.f, CAST(SUM(e.err * x.x) AS BIGINT) AS g "
            f"FROM cf_x x JOIN cf_e{k} e ON x.{id_col} = e.{id_col} "
            f"GROUP BY x.f)")
        parts.append(
            f"cf_w{k} AS MATERIALIZED (SELECT w.f, CAST(w.w + COALESCE("
            f"(CASE WHEN g.g < 0 THEN -1 ELSE 1 END) * "
            f"((abs(g.g) * {LR_NUM}) // "
            f"(n.n * {LR_DEN * (1 << ((k - 1) // HALVE_EVERY))})), 0) "
            f"AS BIGINT) AS w "
            f"FROM cf_w{k - 1} w LEFT JOIN cf_g{k} g ON w.f = g.f "
            f"CROSS JOIN cf_n n)")
    return "WITH " + ", ".join(parts)


def train_oracle_sql(dim: int = DIM, iters: int = ITERS, **kw) -> str:
    return (oracle_ctes(dim, iters, **kw) +
            f" SELECT f AS feature_id, w AS weight FROM cf_w{iters}")


def score_oracle_sql(dim: int = DIM, iters: int = ITERS,
                     id_col: str = "doc_id", **kw) -> str:
    s, h, zc = SCALE, SCALE // 2, Z_CAP
    ctes = oracle_ctes(dim, iters, id_col=id_col, **kw)
    return (
        f"{ctes}, cf_zf AS MATERIALIZED (SELECT x.{id_col}, MAX(x.y) AS y, "
        f"LEAST(GREATEST(CAST(SUM(w.w * x.x) AS BIGINT), {-zc}), {zc}) AS z "
        f"FROM cf_x x JOIN cf_w{iters} w ON x.f = w.f GROUP BY x.{id_col}) "
        f"SELECT {id_col}, z AS margin, "
        f"CAST(CASE WHEN z > 0 THEN 1 ELSE 0 END AS INT) AS pred, "
        f"CAST(y AS INT) AS label FROM cf_zf")
