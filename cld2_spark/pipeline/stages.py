"""Spark DataFrame pipeline stages for the transcript quality filter.

The full chain (north rule): langid -> fastText cross-check -> perplexity ->
heuristic rules -> PII/toxicity scrub -> keep/drop, producing per-turn
verdicts + scrubbed text over the transcripts schema
(conv_id, turn_idx, role, text, tool, ts).

Physical shape (designed for 10^12 turns / 1000 executors):
  - every stage is row-local: NO shuffle anywhere in the chain; the only
    exchanges in a production run are the source scan and the sink write.
  - the single Python stage is one Arrow-batched iterator UDF (`pipeline_udf`)
    computing langid + cross-check + perplexity + the heuristic rules in
    one normalization pass; the rest is whole-stage-codegen SQL above it.
  - nothing is attached beneath the UDF: the langid struct carries the
    kernel's four verdicts (`too_short`, `langid_unreliable`,
    `low_quality`, `high_perplexity`) and the codepoint pass's three
    guards, `has_digit`, `has_at` and `tox_cand`.
    Spark 4.1's runner feeds the Python worker from the task thread and
    pipelines only a socket buffer's worth of input, so JVM string work
    beneath the UDF ran serially ahead of the kernel instead of
    overlapping it.
  - above the UDF, each PII scrub step runs only where its guard is set
    and the toxicity regex only where `tox_cand` is; the guards are sound
    supersets of the SQL tests they replace, so clean rows never enter a
    regex. The decision reads the flags from the struct, plus `toxic`.
  - `partition_for_scale` gives the explicit conv_id hash partitioning +
    salt for mega-conversations demanded by the north rule; per-turn stages
    don't need it (row-local), so it's applied only when downstream
    conversation-level aggregation follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cld2_spark.functions.langid import pipeline_udf
from cld2_spark.kernels import quality as Q
from cld2_spark.kernels import scrub as S
from cld2_spark.pipeline.decide import REASONS, decision_columns

LD = "ld"  # struct column name for langid output


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the combined langid/cross-check/perplexity struct column
    (only the columns the decision consumes; its lang1 is the per-turn
    summary answer)."""
    return df.withColumn(LD, pipeline_udf(F.col(text_col)))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach `too_short` and `low_quality` in Spark SQL (the standalone
    `quality_flags` query; the pipeline reads them from the langid
    struct). The five features are helper
    columns of their own Project: the rules read n_chars and n_words more
    than once, so CollapseProject keeps each feature evaluated once per
    row instead of inlining it into every rule that reads it."""
    feats = Q.features_sql(text_col, "spark")
    helper = {k: f"_q_{k}" for k in feats}
    return (df
            .withColumns({helper[k]: F.expr(v) for k, v in feats.items()})
            .withColumns({k: F.expr(v) for k, v in Q.flags_sql(helper).items()})
            .drop(*helper.values()))


def with_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach `toxic` and `scrubbed_text` above `with_langid`: each regex
    runs only where its guard in the langid struct is set."""
    df = df.withColumn("toxic", F.expr(
        S.toxicity_sql(text_col, "spark", guard=f"{LD}.tox_cand")))
    return S.scrub_spark_columns(df, text_col, "scrubbed_text",
                                 has_digit=f"{LD}.has_digit",
                                 has_at=f"{LD}.has_at")


def with_decision(df: DataFrame) -> DataFrame:
    """Attach `keep` and `drop_reason`: the langid struct carries every
    verdict but toxicity, which `with_scrub` attaches as `toxic`."""
    flags = {r: F.col(f"{LD}.{r}") for r in REASONS if r != "toxicity"}
    keep, reason = decision_columns({**flags, "toxicity": F.col("toxic")})
    return df.withColumn("keep", keep).withColumn("drop_reason", reason)


def run_pipeline(df: DataFrame, text_col: str = "text",
                 passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Full per-turn chain; returns the flat verdict table (FIXTURES.md §4).
    `passthrough` names extra input columns to carry into the output (e.g.
    the event-time column for a downstream stateful streaming operator)."""
    out = with_decision(with_scrub(with_langid(df, text_col), text_col))
    return out.select(
        "conv_id", "turn_idx",
        F.col(f"{LD}.lang1").alias("lang1"),
        F.col(f"{LD}.pct1").alias("pct1"),
        F.col(f"{LD}.rel1").alias("rel1"),
        F.col(f"{LD}.is_reliable").alias("is_reliable"),
        F.col(f"{LD}.ft_lang").alias("ft_lang"),
        F.col(f"{LD}.ppl").alias("ppl"),
        "keep", "drop_reason", "scrubbed_text",
        *passthrough,
    )


def partition_for_scale(df: DataFrame, n_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Explicit conv_id hash partitioning with turn-level salt for skewed
    mega-conversations (SURVEY.md §7 scale hardening). Safe for all per-turn
    stages; conversation-level aggregates must do a two-stage
    (salted partial -> final) rollup."""
    salted = F.concat_ws("#", F.col("conv_id"),
                         (F.pmod(F.hash(F.col("turn_idx")), F.lit(salt_buckets))).cast("string"))
    return df.repartition(n_partitions, salted)
