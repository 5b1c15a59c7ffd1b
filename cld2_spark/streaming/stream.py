"""Structured Streaming wrapper for the quality-filter pipeline.

The per-turn pipeline is stateless (SURVEY.md §2.9), so streaming = the same
row-local transformation chain under readStream, plus a watermark for late
arrivals and foreachBatch for transactional sinks:

    readStream(transcripts) -> withWatermark(ts) -> run_pipeline -> sink

Conversation-level aggregates (if ever needed) would use windowed groupBy
under the same watermark; no custom stateful operator is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cld2_spark.pipeline.stages import run_pipeline
from cld2_spark.session import scoped_conf


def _no_empty_trailing_batch(spark: SparkSession):
    """Disable no-data micro-batches for a FINITE availableNow replay.

    A no-data batch exists to advance the watermark so append-mode
    operators can emit finalized results and stateful operators can fire
    timeouts. The run_* replay wrappers below emit everything from data
    batches (complete-mode foreachBatch snapshots, or inner joins whose
    matches complete within data batches), so the trailing empty batch
    only re-plans and re-commits 32 state partitions for zero output —
    measured 5.3 s -> 3.1 s on the stream-stream join replay at sf0.1,
    byte-identical sink. The long-running start_* entry points keep the
    engine default (their append-mode sinks DO depend on no-data
    emission). Conf is restored afterwards either way."""
    return scoped_conf(
        spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false")


TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, text string, "
                  "tool string, ts timestamp")


def stream_transcripts(spark: SparkSession, source_dir: str,
                       watermark: str = "10 minutes",
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript parquet with late-data watermark."""
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir).withWatermark("ts", watermark)


def start_windowed_stats_stream(spark: SparkSession, source_dir: str,
                                sink_dir: str, checkpoint_dir: str,
                                window: str = "1 hour",
                                watermark: str = "10 minutes",
                                max_files_per_trigger: int | None = None,
                                trigger_once: bool = True):
    """Streaming tumbling-window aggregation with late-data handling
    (SURVEY.md §2.9: watermark + windowed agg; batch equivalent is the
    `events_windowed` driver query).

    Append output mode: a window's row is emitted exactly once, when the
    watermark passes the window end; rows arriving later than the
    watermark allows are DROPPED by the engine -- the correctness contract
    a 10^12-turn streaming deployment needs (state is bounded by the
    watermark horizon, not by stream length)."""
    from pyspark.sql import functions as F

    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir).withWatermark("ts", watermark)
    agg = (src.groupBy(F.window("ts", window), "role")
           .agg(F.count("*").alias("n_turns"),
                F.sum(F.length("text")).alias("total_chars")))
    out = agg.select(F.col("window.start").alias("window_start"), "role",
                     "n_turns", "total_chars")
    writer = (out.writeStream.outputMode("append").format("parquet")
              .option("path", sink_dir)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def run_events_window_stream(spark: SparkSession, events_path: str,
                             work_dir: str, window: str = "1 hour",
                             watermark: str = "1 hour",
                             timeout_sec: int = 300):
    """Structured-Streaming replay of the events table through the
    tumbling-window aggregation; returns the final result as a DataFrame
    (the driver `events_stream` query -- must equal the `events_windowed`
    batch oracle row-for-row).

    Complete output mode via foreachBatch (parquet overwrite per batch):
    a finite availableNow replay may land in ONE micro-batch, where the
    watermark has not advanced past any window end yet, so append mode
    would emit nothing -- complete mode emits every window's final row.
    An unbounded deployment would run append mode + watermark exactly as
    start_windowed_stats_stream does; this entry point is the
    finite-replay verification surface."""
    from pyspark.sql import functions as F

    import os

    out_dir = f"{work_dir}/data"
    reader = spark.readStream.schema(EVENTS_DDL)
    if os.path.isfile(events_path):
        # the file source requires a DIRECTORY; a single-file table is
        # addressed as its parent dir + a name filter
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    src = reader.parquet(events_path).withWatermark("ts", watermark)
    agg = (src.groupBy(F.window("ts", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value")))

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    with _no_empty_trailing_batch(spark):
        q = (agg.writeStream.outputMode("complete").foreachBatch(sink)
             .option("checkpointLocation", f"{work_dir}/ckpt")
             .trigger(availableNow=True).start())
        if not q.awaitTermination(timeout_sec):
            # never read a half-written snapshot: a still-running query
            # could be mid-overwrite of out_dir, silently returning
            # partial windows
            q.stop()
            raise TimeoutError(
                f"events window replay did not finish in {timeout_sec}s")
    return (spark.read.parquet(out_dir)
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def start_pipeline_stream(spark: SparkSession, source_dir: str, sink_dir: str,
                          checkpoint_dir: str, trigger_once: bool = True,
                          exactly_once: bool = False):
    """Run the full pipeline as a stream; parquet sink via foreachBatch
    (swap the write for `writeTo(...).append()` on an Iceberg catalog).

    exactly_once=True makes the sink IDEMPOTENT under micro-batch
    re-delivery: foreachBatch is at-least-once (a crash between the sink
    write and the checkpoint commit replays the epoch), so a plain
    append duplicates the replayed rows. The idempotent sink writes each
    epoch to its own `batch_id=<epoch>` partition directory with
    overwrite -- a replay of the same epoch rewrites the same partition
    byte-for-byte instead of appending a second copy (the standard
    exactly-once foreachBatch recipe; on Iceberg the equivalent is
    `overwritePartitions()` keyed the same way). Readers see the
    `batch_id` partition column and may prune or drop it.
    """
    src = stream_transcripts(spark, source_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = run_pipeline(batch_df)
        if exactly_once:
            out.write.mode("overwrite").parquet(
                f"{sink_dir}/batch_id={batch_id}")
        else:
            out.write.mode("append").parquet(sink_dir)

    writer = (src.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_stream(spark: SparkSession, source_dir: str, sink_dir: str,
                       checkpoint_dir: str, watermark: str = "10 minutes",
                       max_files_per_trigger: int | None = None,
                       trigger_once: bool = True):
    """Streaming EXACT dedup at ingest: emit each distinct text fingerprint
    once, drop re-arrivals within the watermark horizon.

    Uses dropDuplicatesWithinWatermark on md5(text): unlike plain
    dropDuplicates (whose state grows without bound on an infinite
    stream), state for a fingerprint is evicted once the watermark passes
    its event time, so memory is bounded by the dedup horizon -- the
    correct contract for 10^12-turn ingest where exact global dedup is a
    separate batch job (operators/dedup.exact_dedup) and the stream only
    needs to suppress near-in-time re-deliveries (retries, crawler
    re-fetches, at-least-once sources).

    State is keyed by the 16-byte fingerprint, not the text itself, so
    per-key state is O(1) and skew-free (md5 is uniform). The sink keeps
    the transcript schema: the fingerprint key column is dropped before
    the write. Note the survivor of duplicates arriving in the SAME
    micro-batch is engine-chosen; across micro-batches the first delivery
    wins (it owns the state entry).
    """
    from pyspark.sql import functions as F

    src = (stream_transcripts(spark, source_dir, watermark,
                              max_files_per_trigger)
           .withColumn("fingerprint", F.md5(F.col("text")))
           .dropDuplicatesWithinWatermark(["fingerprint"])
           .drop("fingerprint"))
    writer = (src.writeStream.format("parquet")
              .option("path", sink_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_click_purchase_join_stream(spark: SparkSession, events_path: str,
                                   work_dir: str,
                                   horizon: str = "30 minutes",
                                   watermark: str = "1 hour",
                                   timeout_sec: int = 300):
    """STREAM-STREAM inner join replay: every 'click' joined to the same
    user's 'purchase' events landing in (click_ts, click_ts + horizon].

    This is the canonical Structured Streaming two-stream join: both
    sides carry an event-time watermark and the join predicate bounds
    purchase time relative to click time, so Spark can compute the state
    eviction bound for BOTH sides (clicks older than watermark+horizon
    and purchases older than the watermark are dropped from the join
    state) — unbounded streams run with bounded memory. An inner join
    emits each match in the micro-batch that completes it (no
    window-close wait), so a finite availableNow replay yields exactly
    the batch join's rows; the driver compares against a plain batch
    interval-join oracle.

    Scale shape: state is hash-partitioned by user_id on both sides —
    the same exchange a batch join would do — and per-key state size is
    bounded by the horizon, not the stream length.
    """
    import os

    from pyspark.sql import functions as F

    out_dir = f"{work_dir}/data"

    def _src(tag: str):
        reader = spark.readStream.schema(EVENTS_DDL)
        path = events_path
        if os.path.isfile(path):
            reader = reader.option("pathGlobFilter", os.path.basename(path))
            path = os.path.dirname(path)
        return reader.parquet(path)

    clicks = (_src("c").where("event_type = 'click'")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    buys = (_src("p").where("event_type = 'purchase'")
            .select(F.col("user_id").alias("p_user"),
                    F.col("ts").alias("buy_ts"),
                    F.col("value").alias("buy_value"))
            .withWatermark("buy_ts", watermark))
    joined = clicks.join(
        buys,
        F.expr(f"c_user = p_user AND buy_ts > click_ts "
               f"AND buy_ts <= click_ts + INTERVAL {horizon}"),
        "inner")

    def sink(batch_df, batch_id: int) -> None:
        # append mode: each micro-batch contributes only matches newly
        # completed in that batch; per-batch subdirs keep retried batch
        # writes idempotent (same batch id -> same dir, overwritten)
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    with _no_empty_trailing_batch(spark):
        q = (joined.writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation", f"{work_dir}/ckpt")
             .trigger(availableNow=True).start())
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"click/purchase join replay did not finish in "
                f"{timeout_sec}s")
    return (spark.read.parquet(f"{out_dir}/batch=*")
            .select(F.col("c_user").alias("user_id"), "click_id",
                    F.unix_micros(F.col("click_ts").cast("timestamp"))
                    .alias("click_us"),
                    F.unix_micros(F.col("buy_ts").cast("timestamp"))
                    .alias("buy_us"),
                    F.round("buy_value", 2).alias("buy_value")))


def run_enrichment_stream(spark: SparkSession, events_path: str,
                          dim: DataFrame, work_dir: str,
                          timeout_sec: int = 300) -> DataFrame:
    """STREAM-STATIC enrichment join: every streamed event is joined to a
    static dimension table on user_id — the standard fact-stream /
    broadcast-dim shape. Stateless (no watermark, no state store): Spark
    broadcasts the dim side into every micro-batch, so the stream side
    never shuffles and throughput is scan-bound; at 10^12 events/day the
    dim refresh is a snapshot swap, not a stream.

    availableNow replay; returns the enriched rows read back from the
    sink — byte-comparable to the plain batch join the oracle runs.
    """
    import os

    from pyspark.sql import functions as F

    reader = spark.readStream.schema(EVENTS_DDL)
    path = events_path
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    src = reader.parquet(path)
    enriched = (src.join(F.broadcast(dim), src.user_id == dim.c_custkey,
                         "inner")
                .select("event_id", "user_id", "event_type",
                        F.col("c_mktsegment").alias("mktsegment"),
                        F.round("value", 2).alias("value")))
    q = (enriched.writeStream.outputMode("append").format("parquet")
         .option("path", f"{work_dir}/data")
         .option("checkpointLocation", f"{work_dir}/ckpt")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"enrichment stream replay did not finish in {timeout_sec}s")
    return spark.read.parquet(f"{work_dir}/data")


def run_events_session_stream(spark: SparkSession, events_path: str,
                              work_dir: str, gap: str = "300 seconds",
                              watermark: str = "1 hour",
                              timeout_sec: int = 300):
    """Structured-Streaming replay through the STATEFUL session_window
    aggregation (dynamic-gap session state: Spark merges/extends open
    sessions in the state store as events arrive). Returns the final
    sessions as a DataFrame — the driver `events_stream_sessions` query,
    which must equal BOTH the batch session_window result AND the
    DuckDB islands oracle row-for-row (a triple agreement: streaming
    state machine == batch operator == independent SQL replay).

    Complete output mode via foreachBatch for the same finite-replay
    reason as run_events_window_stream; an unbounded deployment would
    use append mode + the watermark to emit closed sessions only."""
    import os

    from pyspark.sql import functions as F

    out_dir = f"{work_dir}/data"
    reader = spark.readStream.schema(EVENTS_DDL)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter",
                               os.path.basename(events_path))
        events_path = os.path.dirname(events_path)
    src = reader.parquet(events_path).withWatermark("ts", watermark)
    agg = (src.groupBy("user_id",
                       F.session_window(F.col("ts"), gap).alias("sw"))
           .agg(F.count(F.lit(1)).alias("n_events")))

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    with _no_empty_trailing_batch(spark):
        q = (agg.writeStream.outputMode("complete").foreachBatch(sink)
             .option("checkpointLocation", f"{work_dir}/ckpt")
             .trigger(availableNow=True).start())
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"session window replay did not finish in {timeout_sec}s")
    return (spark.read.parquet(out_dir)
            .select("user_id",
                    F.expr("CAST(unix_timestamp(sw.start) AS BIGINT)")
                    .alias("w_start"),
                    F.expr("CAST(unix_timestamp(sw.end) AS BIGINT)")
                    .alias("w_end"),
                    F.col("n_events").cast("bigint").alias("n_events")))
