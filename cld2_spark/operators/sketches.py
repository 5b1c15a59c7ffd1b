"""Mergeable frequency sketches + exact heavy hitters (SQL-first).

Count-min sketch (Cormode & Muthukrishnan 2005) as the fixed-size scale
path for frequency estimation, with the exact two-stage aggregate as its
verifiable twin — the same pairing `operators/cohorts.reach` uses for
HLL vs COUNT(DISTINCT).

Everything is built-in expressions: the sketch is a groupBy over
(row, col) cells where col = md5-hash of (row-salt, token), so the build
is map-side combinable and each map task emits AT MOST depth*width cell
rows into the shuffle regardless of how many distinct tokens it saw.
That bounded-state property is the whole point at 100 TB: an exact
token count shuffles one row per distinct token per partition (unbounded,
skew-prone), while the sketch shuffles a constant ≤ depth*width rows per
partition and answers any point query within eps*N (eps = e/width) with
probability 1 - delta (delta = e^-depth), always over-estimating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cld2_spark.operators.tokenizer import tokens_sql


def _token_stream(df: DataFrame, text_col: str) -> DataFrame:
    tk = tokens_sql(text_col, "spark", drop_empty=True)
    return df.select(F.explode(F.expr(tk)).alias("token"))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact global token frequencies: one map-side-combinable aggregate
    keyed by token (the ground-truth twin of the CMS estimate)."""
    return (_token_stream(df, text_col)
            .groupBy("token").agg(F.count(F.lit(1)).alias("n")))


def cms_cell_expr(row_col: str, token_col: str, width: int) -> str:
    """The shared Spark/DuckDB-portable cell hash: 32-bit md5 prefix of
    (row-index salt ++ token), reduced mod width. Nonnegative on both
    engines (conv() and ('0x'||..)::BIGINT are both unsigned here)."""
    return (f"conv(substr(md5(concat(CAST({row_col} AS STRING), "
            f"{token_col})), 1, 8), 16, 10) % {width}")


def cms_build(df: DataFrame, text_col: str = "text",
              depth: int = 4, width: int = 1024) -> DataFrame:
    """Build the count-min sketch as a (r, c, n) cell table,
    r in [0, depth), c in [0, width).

    The explode over `depth` rows happens BEFORE the aggregate, so the
    partial agg bounds every map task's shuffle output at depth*width
    rows — the sketch is mergeable by cell-wise addition, which is
    exactly what the shuffle-reduce performs. Missing cells mean zero.
    """
    cell = F.expr(cms_cell_expr("r", "token", width)).cast("bigint")
    return (_token_stream(df, text_col)
            .select(F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("r"),
                    "token")
            .select("r", cell.alias("c"))
            .groupBy("r", "c").agg(F.count(F.lit(1)).alias("n")))


def cms_estimate(queries: DataFrame, cells: DataFrame,
                 token_col: str = "token",
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-query the sketch: estimate(t) = min over r of cell(r, h_r(t)).

    `cells` is at most depth*width rows, so it is always broadcast —
    the query side never shuffles. Always >= the true count; equality
    iff no colliding token shares all `depth` cells.
    """
    q = queries.select(
        token_col,
        F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("r"))
    q = q.withColumn(
        "c", F.expr(cms_cell_expr("r", token_col, width)).cast("bigint"))
    return (q.join(F.broadcast(cells), ["r", "c"])
            .groupBy(token_col).agg(F.min("n").alias("n_cms")))


def cms_from_counts(counts: DataFrame, depth: int = 4,
                    width: int = 1024) -> DataFrame:
    """cms_build over a pre-aggregated (token, n) histogram: cell(r, c)
    = SUM of n over tokens hashing to c under salt r — identical to
    counting the raw occurrences (the sketch is linear in the input
    multiset), but the per-token md5 runs depth times per DISTINCT
    token instead of per occurrence."""
    cell = F.expr(cms_cell_expr("r", "token", width)).cast("bigint")
    return (counts
            .select(F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("r"),
                    "token", "n")
            .select("r", cell.alias("c"), "n")
            .groupBy("r", "c").agg(F.sum("n").alias("n")))


def heavy_hitters(df: DataFrame, k: int = 30, text_col: str = "text",
                  depth: int = 4, width: int = 1024) -> DataFrame:
    """Top-k most frequent tokens with BOTH the exact count and the CMS
    estimate side by side (token, n, n_cms) — deterministic tie-break by
    token text. The exact path is the oracle surface; the sketch column
    proves the scale path computes a value the oracle can replay.

    The exact histogram is computed ONCE (persisted) and feeds both the
    top-k and the sketch via cms_from_counts — bit-identical to building
    the sketch from raw occurrences (CMS is linear), at depth md5 calls
    per distinct token instead of per token occurrence (Zipf: an
    order-of-magnitude fewer digests; measured 2.2 s -> 1.1 s sf0.1)."""
    from cld2_spark.operators.dedup import _persist_tracked

    counts = _persist_tracked(token_counts(df, text_col))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    cells = cms_from_counts(counts, depth, width)
    est = cms_estimate(top.select("token"), cells, "token", depth, width)
    return (top.join(F.broadcast(est), "token")
            .select("token", "n", "n_cms"))
