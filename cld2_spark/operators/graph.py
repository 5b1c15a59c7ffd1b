"""TextRank — weighted PageRank over the corpus word co-occurrence
graph (Mihalcea & Tarau, EMNLP 2004), the classic unsupervised keyword
extractor, here as the distributed corpus-level variant a training-data
pipeline uses to surface characteristic vocabulary.

Published form: nodes are content words, edges connect words that
co-occur within a window (we use the adjacent-pair window over the
length-filtered token stream — the length filter is the portable proxy
for the paper's POS filter), edge weight = corpus co-occurrence count,
and the score is weighted PageRank

    R(v) = (1 - d) + d * SUM_{u in In(v)} w(u,v) / wdeg(u) * R(u)

iterated a fixed number of rounds with damping d = 0.85.

INTEGER-EXACT variant: ranks live in ppm (R0 = 10^6), d is the rational
850/1000, and one iteration is

    R'(v) = 150000 + (850 * SUM_u (R(u) * w(u,v)) DIV wdeg(u)) DIV 1000

— every quantity a nonnegative integer, every division a nonnegative-
numerator floor division, so Spark `DIV`, DuckDB `//`, and Python `//`
agree bit-for-bit and the DuckDB oracle replays graph construction AND
every iteration live as an unrolled WITH chain (the same engine-exact
recipe as the classifier's GD loop; each iteration CTE is MATERIALIZED
because iteration k reads k-1 once but the optimizer must not inline
the chain into a 2^k blowup).

Distributed shape (the canonical PageRank-on-Spark plan, 100 TB notes):
  - edge build: one tokenize scan -> in-row adjacent pairs (no
    posexplode self-join) -> ONE map-side-combinable groupBy((u,v))
    count whose shuffle volume is the DISTINCT co-occurrence histogram
    (Zipf), pruned by `min_count` exactly like the KenLM table;
  - the edge table (src, dst, w, wdeg) is persisted once and reused by
    every iteration (tracked via the dedup cache registry so repeated
    calls release prior blocks);
  - one iteration = one shuffle join (edges x ranks on src, both sides
    vocabulary-sized, NOT corpus-sized) + one map-side-combinable
    groupBy(dst). Stop-word hubs are pruned by the length filter; the
    remaining key skew is bounded by max degree and AQE's skew-join
    handles the tail. Each round's ranks flow straight into the next
    round's join (consumed once — caching them bought nothing and cost
    a cache write per round); checkpoint periodically only at high
    iteration counts.
  - int64 bound: R(u) * w(u,v) < 2^63. Rank mass is conserved at
    ~10^6 per node, so R(u) <= ~10^6 * |V| only for a single global
    hub; realistic web vocabularies (|V| ~ 10^7, w <= 10^9) stay ~10
    orders below the bound. Past it, flip the SUM/products to
    DECIMAL(38,0) — floor-division algebra is unchanged.

No analogue in the reference (CLD2 has no graph surface); cited
absence: SURVEY.md SS2.13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cld2_spark.operators.dedup import _persist_tracked, release_dedup_caches
from cld2_spark.operators.ngram_lm import _bigrams_expr
from cld2_spark.operators.tokenizer import tokens_sql

DAMP_NUM, DAMP_DEN = 850, 1000      # d = 0.85 as a rational
BASE_PPM = 150_000                  # (1 - d) * 10^6
R0_PPM = 1_000_000                  # initial rank, ppm
MIN_LEN = 4                         # content-word length filter
MIN_COUNT = 2                       # edge-weight pruning (KenLM-style)
ITERS = 5                           # fixed PageRank rounds


def _filtered_tokens(df: DataFrame, text_col: str, id_col: str,
                     min_len: int) -> DataFrame:
    toks = tokens_sql(text_col, "spark", drop_empty=True)
    return (df.where(F.col(text_col).isNotNull())
              .select(id_col,
                      F.expr(f"filter({toks}, t -> length(t) >= {min_len})")
                       .alias("__toks")))


def cooccurrence_edges(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", min_len: int = MIN_LEN,
                       min_count: int = MIN_COUNT) -> DataFrame:
    """Directed edge table (src, dst, w, wdeg): undirected adjacent-pair
    co-occurrence counts expanded to both directions, with the weighted
    out-degree joined on. One count shuffle + one degree shuffle, both
    over the distinct-pair histogram."""
    tok = _filtered_tokens(df, text_col, id_col, min_len)
    pairs = (tok.where(F.size("__toks") >= 2)
             .select(F.explode(F.expr(_bigrams_expr("__toks"))).alias("b"))
             .select(F.least("b.h", "b.w").alias("u"),
                     F.greatest("b.h", "b.w").alias("v"))
             .where("u <> v")
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))
             .where(F.col("w") >= min_count))
    edges = (pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"),
                          "w")
             .unionAll(pairs.select(F.col("v").alias("src"),
                                    F.col("u").alias("dst"), "w")))
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    return edges.join(wdeg, "src")


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 50,
                      min_len: int = MIN_LEN, min_count: int = MIN_COUNT,
                      iters: int = ITERS) -> DataFrame:
    """Top-k corpus keywords by integer-exact weighted PageRank:
    (word, rank_ppm, wdeg), rank descending, word ascending ties."""
    release_dedup_caches(session=df.sparkSession)
    edges = _persist_tracked(
        cooccurrence_edges(df, text_col, id_col, min_len, min_count))
    ranks = (edges.select("src").distinct()
             .select(F.col("src").alias("node"),
                     F.lit(R0_PPM).cast("long").alias("r")))
    for _ in range(iters):
        # NO per-round persist of the rank table (changed r7): each
        # round's ranks are consumed exactly once (by the next round's
        # join), so within the single final action the persist was pure
        # cache-write overhead (measured 2.9 s -> 2.0 s at sf0.1 from
        # dropping it). Only `edges` — read by every round — stays
        # cached. At very high iteration counts, checkpoint every ~20
        # rounds for lineage control, as connected_components does.
        ranks = (edges.join(ranks, edges.src == ranks.node)
                 .select("dst", F.expr("(r * w) DIV wdeg").alias("c"))
                 .groupBy("dst")
                 .agg(F.expr(f"CAST({BASE_PPM} AS BIGINT) + "
                             f"({DAMP_NUM} * sum(c)) DIV {DAMP_DEN}")
                      .alias("r"))
                 .select(F.col("dst").alias("node"), "r"))
    deg = edges.select(F.col("src").alias("node"), "wdeg").distinct()
    return (ranks.join(deg, "node")
            .select(F.col("node").alias("word"),
                    F.col("r").alias("rank_ppm"), "wdeg")
            .orderBy(F.desc("rank_ppm"), F.asc("word")).limit(k))


def textrank_oracle_sql(table: str = "documents", text_col: str = "text",
                        id_col: str = "doc_id", k: int = 50,
                        min_len: int = MIN_LEN, min_count: int = MIN_COUNT,
                        iters: int = ITERS) -> str:
    """LIVE DuckDB replica: same graph build, same integer PageRank,
    iterations unrolled as MATERIALIZED CTEs."""
    toks = tokens_sql(text_col, "duckdb", drop_empty=True)
    ctes = [
        f"""tr_tok AS MATERIALIZED (
  SELECT {id_col},
         list_filter({toks}, t -> length(t) >= {min_len}) AS toks
  FROM {table} WHERE {text_col} IS NOT NULL)""",
        """tr_pair AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v
  FROM (SELECT unnest(toks[1:len(toks) - 1]) AS a,
               unnest(toks[2:len(toks)]) AS b
        FROM tr_tok WHERE len(toks) >= 2)
  WHERE a <> b)""",
        f"""tr_e0 AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM tr_pair
  GROUP BY u, v HAVING COUNT(*) >= {min_count})""",
        """tr_e AS MATERIALIZED (
  SELECT u AS src, v AS dst, w FROM tr_e0
  UNION ALL SELECT v, u, w FROM tr_e0)""",
        """tr_d AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM tr_e GROUP BY src)""",
        """tr_r0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM tr_e)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""tr_r{i} AS MATERIALIZED (
  SELECT e.dst AS node,
    CAST({BASE_PPM} + ({DAMP_NUM} * SUM((r.r * e.w) // d.wdeg))
         // {DAMP_DEN} AS BIGINT) AS r
  FROM tr_e e JOIN tr_d d ON e.src = d.src
  JOIN tr_r{i - 1} r ON e.src = r.node
  GROUP BY e.dst)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT r.node AS word, r.r AS rank_ppm, d.wdeg
FROM tr_r{iters} r JOIN tr_d d ON r.node = d.src
ORDER BY rank_ppm DESC, word ASC LIMIT {k}""")
