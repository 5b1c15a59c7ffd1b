"""Conversation-level features, computed JVM-side.

`conversation_features` is a LAG window over (conv_id, turn_idx) followed
by groupBy().agg. Both stages are whole-stage-codegen SQL, map-side
partial aggregation applies, and AQE skew handling covers a
mega-conversation (a single 10^7-turn conv_id is split across tasks by the
window shuffle's range partitioning and the agg's partial combine -- no
single Python task ever pins the whole group). The driver contract's
DuckDB oracle replays the same rule (tests/test_skew.py runs it on a
mega-conversation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def conversation_features(df: DataFrame) -> DataFrame:
    """Per-conversation ordered stats, computed JVM-side.

    gap_i = ts_i - ts_{i-1} within the conversation (LAG window), then a
    decomposable groupBy aggregate -- the scale-safe two-stage plan."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # timestamp -> double = epoch seconds incl. fractional part (matches
    # the DuckDB oracle's epoch())
    gap = (F.col("ts").cast("double")
           - F.lag(F.col("ts").cast("double")).over(w))
    g = df.withColumn("__gap", gap)
    return (g.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
         .cast("int").alias("n_user_turns"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
         .cast("bigint").alias("total_chars"),
        F.coalesce(F.round(F.avg("__gap"), 3), F.lit(0.0)).alias("mean_gap_s"),
        F.coalesce(F.round(F.max("__gap"), 3), F.lit(0.0)).alias("max_gap_s"),
    ))
