"""Structured-Streaming variant of the extraction pipeline.

The batch job (plans/pipeline.py) is the primary deployment (the
north_rule job is batch + resumable-from-snapshot); this module covers
the continuous-ingest shape: transcripts landing as parquet files in a
directory (or a Kafka-shaped source at deploy time) → the same
``mapInPandas`` extraction → append sink with checkpointing.

Extraction is stateless per turn, so the stream needs no watermark for
the extraction stage itself; the optional session-window rollup shows
the watermarked aggregation shape (per-conversation activity sessions
over event time) for late-data-tolerant monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftotext_spark.functions.extract import EXTRACT_SCHEMA, extract_batches
from pdftotext_spark.plans.pipeline import TRANSCRIPT_COLUMNS
from pdftotext_spark.sources.shipping import ship_package


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream over a transcripts directory. Schema is
    pinned (streams cannot infer), matching BASELINE.json input_hint."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_turns_stream(transcripts: DataFrame) -> DataFrame:
    """Same Arrow-vectorized extraction, streaming plan. mapInPandas
    is stateless → fully supported in append mode."""
    ship_package(transcripts.sparkSession)
    return transcripts.select(*TRANSCRIPT_COLUMNS).mapInPandas(
        extract_batches, EXTRACT_SCHEMA
    )


def conversation_sessions(extracted: DataFrame, gap: str = "5 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Session-window rollup: turns group into activity sessions that
    close after ``gap`` of inactivity per conversation —
    ``F.session_window`` is the native dynamic-gap analog of the batch
    ``sessionize`` operator (L3), with the watermark bounding state.
    Streaming-only demo (session windows need watermark + append)."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("extracted_text")).alias("chars"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "turns",
            "chars",
        )
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain everything currently available (Trigger.AvailableNow) —
    the batch-equivalent streaming execution used by tests; a deployed
    job would use a processing-time trigger instead."""
    stream = read_transcript_stream(spark, input_dir)
    extracted = extract_turns_stream(stream)
    (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
