"""Structured-Streaming variant of the extraction pipeline, and the one
micro-batch layer every streaming gate runs on.

The batch job (plans/pipeline.py) is the primary deployment (the
north_rule job is batch + resumable-from-snapshot); this module covers
the continuous-ingest shape: transcripts landing as parquet files in a
directory (or a Kafka-shaped source at deploy time) → the same
``mapInPandas`` extraction (:func:`plans.pipeline.extract_turns` on a
stream) → append sink with checkpointing.

Every streaming gate (``streaming/{dedup,curation,mixing,quality_lr,
sketches,stateful}.py``) is a pure ``gate(batch, batch_id) ->
{out_dir: frame}``; :func:`per_batch` owns the micro-batch decisions
(skip empty batches, overwrite ``out_dir/batch_id=N``) and
:func:`drain` owns the AvailableNow + checkpoint run.

Extraction is stateless per turn, so the stream needs no watermark for
the extraction stage itself; the optional session-window rollup shows
the watermarked aggregation shape (per-conversation activity sessions
over event time) for late-data-tolerant monitoring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from pdftotext_spark.plans.pipeline import TRANSCRIPT_DDL, extract_turns

Gate = Callable[[DataFrame, int], dict[str, DataFrame]]


def per_batch(gate: Gate) -> Callable[[DataFrame, int], None]:
    """The one ``foreachBatch`` body: skip an empty micro-batch, else
    overwrite each frame the gate returns into ``out_dir/batch_id=N``,
    in dict order (a gate lists its output before its store).

    Overwriting the batch's own partition is what makes every sink
    exactly-once per committed batch: an at-least-once replay of batch
    N replaces its prior attempt instead of appending a second copy.
    The checkpoint is part of that state — resetting it against an
    existing output restarts ids at 0 and overwrites history — and
    readers see ``batch_id`` as a partition column."""

    def _body(batch: DataFrame, batch_id: int) -> None:
        # the emptiness probe and every output read the batch: without
        # the cache a stateful batch (the rollup) re-runs its
        # extraction and state fold once per action
        batch.persist()
        try:
            if batch.isEmpty():
                return
            for out_dir, frame in gate(batch, batch_id).items():
                frame.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        finally:
            batch.unpersist()

    return _body


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run ``writer`` over everything currently available
    (Trigger.AvailableNow) and wait — the batch-equivalent streaming
    execution; a deployed job would use a processing-time trigger."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 16,
    schema: str = TRANSCRIPT_DDL,
) -> DataFrame:
    """File-source stream over a parquet directory. The schema is
    pinned (streams cannot infer): the transcript DDL unless a gate
    reads another table (the quantile sketch reads events)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_gate(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int], None],
    max_files_per_trigger: int = 16,
    schema: str = TRANSCRIPT_DDL,
) -> None:
    """Drain ``input_dir`` through a :func:`per_batch` body."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger, schema)
    drain(stream.writeStream.foreachBatch(body), checkpoint_dir)


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
    """Drain available input through extraction into a parquet file
    sink (append mode; the file sink's own log keeps it exactly-once)."""
    extracted = extract_turns(read_transcript_stream(spark, input_dir))
    drain(
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
