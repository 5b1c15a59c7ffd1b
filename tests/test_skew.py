"""Skew handling: a mega-conversation must not pin one task."""

import duckdb
from pyspark.sql import functions as F

from cld2_spark.pipeline.stages import partition_for_scale, run_pipeline
from cld2_spark.sources.transcripts import spark_transcripts


def test_mega_conversation_is_salted_across_partitions(spark):
    # one conversation with 50x the median turn count
    df = spark_transcripts(spark, n_turns=400, mega_turns=1000)
    salted = partition_for_scale(df, n_partitions=8, salt_buckets=8)
    dist = (salted.withColumn("pid", F.spark_partition_id())
            .where(F.col("conv_id") == "mega")
            .groupBy("pid").count().toPandas())
    # the mega conversation's 1000 turns land on several partitions
    assert len(dist) >= 4, dist
    assert dist["count"].max() < 1000


def test_pipeline_correct_under_salting(spark):
    """Salting must not change per-turn results (row-local pipeline)."""
    df = spark_transcripts(spark, n_turns=300, mega_turns=200)
    plain = (run_pipeline(df).toPandas()
             .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    salted = (run_pipeline(partition_for_scale(df, 8)).toPandas()
              .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert (plain["keep"].to_numpy() == salted["keep"].to_numpy()).all()
    assert (plain["scrubbed_text"].to_numpy() == salted["scrubbed_text"].to_numpy()).all()


def test_conversation_features_mega_conversation(spark):
    """VERDICT r1 #7: conversation-level features must not pin one Python
    task on a mega-conversation. The production path is pure window SQL +
    groupBy (JVM-side, map-side partials, AQE-splittable); this asserts it
    (a) matches the driver contract's DuckDB oracle for the same rule,
    replayed over the same rows, and (b) contains no Python stage.
    """
    import __spark_entry__ as E
    from cld2_spark.pipeline.conversation import conversation_features

    df = spark_transcripts(spark, n_turns=200, mega_turns=3000)
    sql_out = (conversation_features(df).toPandas()
               .sort_values("conv_id").reset_index(drop=True))
    # the oracle reads the `transcripts` CTE of the driver prelude: drop
    # the prelude and point it at these rows instead
    oracle, ctes = E.oracle_sql()["conversation_features"], E._duck_ctes()
    assert oracle.startswith(ctes + ", ")
    con = duckdb.connect()
    con.register("transcripts", df.toPandas())
    want = (con.execute("WITH " + oracle[len(ctes) + 2:]).df()
            .sort_values("conv_id").reset_index(drop=True))
    assert sql_out["conv_id"].tolist() == want["conv_id"].tolist()
    for col in ("n_turns", "n_user_turns", "total_chars"):
        assert (sql_out[col].to_numpy() == want[col].to_numpy()).all(), col
    for col in ("mean_gap_s", "max_gap_s"):
        assert (abs(sql_out[col] - want[col]) < 1e-6).all(), col
    mega = sql_out[sql_out.conv_id == "mega"]
    assert int(mega.n_turns.iloc[0]) == 3000
    # the production plan is fully JVM-side: no Python/pandas stage
    plan = conversation_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
