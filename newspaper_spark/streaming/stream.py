"""Structured Streaming wrapper around the extraction stage.

The reference is a batch/pull library (SURVEY.md §2.10) — every stage
is stateless per-row, so the streaming form is the identical dataflow
under ``readStream``: file-source over the transcripts table →
extract_articles → sink with checkpointLocation. No watermarks needed
for extraction itself (map-only); exactly-once comes from the sink
checkpoint. For the AGGREGATING stream (per-window turn counts),
``windowed_turn_counts`` adds the watermark so state is bounded and
late rows beyond it are dropped deterministically.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_articles
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _parquet_sink(stream: DataFrame, output_dir: str, checkpoint_dir: str):
    """The append-mode parquet sink every stream here writes to; exactly
    once through its checkpoint. Returns the unstarted writer."""
    return (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def windowed_turn_counts(
    transcripts: DataFrame,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed per-role turn counts with a watermark.

    At 10^12-turn scale the aggregation state must be bounded: the
    watermark lets Spark finalize + evict windows older than
    ``watermark_delay`` and drop later-than-that stragglers instead of
    holding every window open forever. Works on both batch and
    streaming DataFrames (same plan, per Structured Streaming's
    unified model)."""
    return (
        transcripts.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def start_windowed_count_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
):
    """Streaming windowed counts → parquet in APPEND mode: a window is
    emitted exactly once, when the watermark passes its end."""
    stream = read_transcript_stream(spark, input_dir)
    counts = windowed_turn_counts(stream, window_duration, watermark_delay)
    return _parquet_sink(counts, output_dir, checkpoint_dir).start()


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """File-to-file streaming extraction with exactly-once checkpointing."""
    stream = read_transcript_stream(spark, input_dir)
    extracted = extract_articles(stream)
    return _parquet_sink(extracted, output_dir, checkpoint_dir).start()


def dedup_stream(
    transcripts: DataFrame,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming exact deduplication by content fingerprint.

    ``dropDuplicatesWithinWatermark`` keeps one row per (md5 of
    normalized text) among rows whose event times fall within the
    watermark window of each other, and — unlike a plain streaming
    dropDuplicates, whose seen-keys state grows forever — EVICTS a
    key's state once the watermark passes it. That is the only
    state-bounded exact-dedup shape that survives an unbounded stream:
    at 10^12 turns the state is O(distinct keys per watermark window),
    not O(all keys ever seen). Batch analog for the oracle: the
    dedup_exact groupBy. Works only on streaming DataFrames with an
    event-time column (``ts``).
    """
    from ..operators.textstats import doc_fingerprint_col

    fp = transcripts.withColumn("fingerprint", doc_fingerprint_col(F.col("text")))
    return fp.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "30 minutes",
):
    deduped = dedup_stream(
        read_transcript_stream(spark, input_dir), watermark_delay
    )
    return (
        _parquet_sink(deduped, output_dir, checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
