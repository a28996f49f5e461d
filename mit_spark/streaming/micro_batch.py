"""Structured Streaming wrapper (SURVEY.md §2.8).

The reference is strictly synchronous batch (its only async surface is the
unimplemented translate_async, interface/src/translator/mod.rs:7-11), and
the north rule is checkpointed batch — but because every pipeline stage is
stateless per document, the SAME plan body runs incrementally: a file/
Iceberg stream of docs micro-batches through extract() via foreachBatch,
with Spark's own streaming checkpoint tracking which input files are done.
The foreachBatch appends are at-least-once: a crash between a batch's
parquet append and its offset commit replays that batch on restart.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mit_spark.config import PipelineConfig
from mit_spark.schema import DOCS


def run_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    config: PipelineConfig | None = None,
    *,
    available_now: bool = True,
):
    """Stream docs parquet files from ``input_path`` -> extracted parquet.

    available_now=True drains everything currently present and stops (the
    bounded-stream mode used by tests and backfills); False runs continuous
    micro-batches until stopped.
    """
    from mit_spark.plans.pipeline import extract

    config = config or PipelineConfig()
    stream = spark.readStream.schema(DOCS).parquet(input_path)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        extract(batch_df.sparkSession, batch_df, config).write.mode("append").parquet(
            output_path
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stateful_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> None:
    """Custom STATEFUL streaming operator (applyInPandasWithState — the
    Arrow-batched GroupState API): exact first-arrival-wins dedup across
    micro-batches, keyed on the content hash. One boolean of state per
    distinct hash lives in Spark's state store, survives across
    micro-batches AND across restarts via the checkpoint, so a document
    re-sent in a later arrival file is suppressed without any corpus-side
    rescan — the streaming twin of incremental_dedup's batch-vs-corpus
    screen, with the 'existing corpus' replaced by operator state.

    maxFilesPerTrigger=1 makes each arrival file its own micro-batch (in
    mtime order), which is what gives 'first arrival' a deterministic
    meaning; within one batch the smallest doc_id of a group wins. At
    10^12-doc scale the state store is hash-partitioned across executors
    exactly like any keyed stream — no driver state, no broadcast."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    in_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("content_hash", StringType())]
    )
    state_schema = StructType([StructField("seen", LongType())])

    def dedup(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:  # hash emitted in an earlier micro-batch: suppress
            return
        best = None
        for pdf in pdfs:
            m = int(pdf["doc_id"].min())
            best = m if best is None else min(best, m)
        state.update((1,))
        yield pd.DataFrame({"doc_id": [best], "content_hash": [key[0]]})

    stream = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    hashed = stream.select("doc_id", F.md5(F.trim("text")).alias("h"))
    kept = hashed.groupBy("h").applyInPandasWithState(
        dedup, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

    def sink(batch_df, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(output_path)

    q = (
        kept.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def histogram_merge_stream(
    spark: SparkSession,
    docs_path: str,
    partials_path: str,
    checkpoint_path: str,
    *,
    bin_width: int = 8,
    n_bins: int = 64,
) -> None:
    """Mergeable-sketch maintenance as a STREAM (SURVEY.md §2.8 meets the
    sketch family): each micro-batch reduces to its fixed-width token-length
    histogram PARTIAL — at most ``n_bins`` (bin, cnt) rows stamped with the
    batch id. The streaming checkpoint makes batch REPLAY rare, but
    foreachBatch's side-effect contract is AT-LEAST-ONCE (a crash between
    the parquet append and the offset commit replays the batch), so every
    partial row carries ``batch_id`` and consumers MUST collapse on
    (bin, batch_id) before summing — a replayed batch writes identical
    rows, so the dedupe makes the pipeline idempotent (the registry entry
    does exactly this). Because histogram counters merge by PLAIN ADDITION
    (the same property quantile_sketch_eval exploits batch-side), the
    merged corpus sketch is one combinable groupBy over the partial table
    (n_bins x n_batches rows, never the corpus) and stays correct under
    any batch arrival order, re-partitioning, or day-over-day accumulation
    — the canonical bounded-state streaming aggregate a 100 TB ingest
    keeps instead of raw rows. A re-drain against the same checkpoint
    appends nothing (no new files), which the registry entry exercises."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    in_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(in_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.select(
                F.least(
                    F.expr(f"size(split(trim(text), ' ')) DIV {bin_width}"),
                    F.lit(n_bins - 1).cast("long"),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            .write.mode("append")
            .parquet(partials_path)
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_stats(
    spark: SparkSession,
    events_path: str,
    *,
    window: str = "1 hour",
    watermark: str = "1 hour",
    name: str = "windowed_event_stats",
):
    """Watermarked event-time windowed aggregation (SURVEY.md §2.8 late-data
    handling): stream the events files, apply withWatermark(ts) + window(ts)
    per event_type, drain with availableNow into a memory sink in APPEND
    mode, and return the emitted rows as a batch DataFrame.

    Append mode emits exactly the windows the watermark has closed
    (window_end <= max(ts) - delay), so on a bounded drain the result is a
    deterministic pure function of the input — which is what lets the
    driver gate check it against a plain SQL oracle. No checkpoint is kept:
    every invocation reprocesses the same bounded input (idempotent
    builder), unlike run_stream whose checkpointed at-least-once resume is
    tested separately.
    """
    from pyspark.sql import functions as F

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    # parquet stores TIMESTAMP_NTZ; watermarks require zoned TIMESTAMP —
    # the cast is a pure relabel (session tz is UTC in tests/bench)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def session_window_stats(
    spark: SparkSession,
    events_path: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str = "session_window_stats",
):
    """Native SESSION WINDOWS over an event-time stream (SURVEY.md §2.8):
    groupBy(session_window(ts, gap), user_id) with a watermark, drained
    with availableNow in APPEND mode. Spark merges per-key session state
    across micro-batches (variable-length windows, unlike the fixed
    window() aggregation above) and emits a session only once its end
    (last event + gap) falls behind the watermark — the streaming twin of
    the batch gap-sessionization in `user_sessions`/`interval_overlap_join`.
    On a bounded drain the emitted set is a deterministic pure function of
    the input (session_end <= max(ts) - delay), so a plain SQL
    sessionization oracle can value-check it."""
    from pyspark.sql import functions as F

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
