"""Custom stateful streaming operator: incremental per-conversation
accumulation via ``applyInPandasWithState`` (the Structured-Streaming
shape for operators Spark lacks built-in — SURVEY.md §1.2 / task spec
"custom stateful operators").

State per ``conv_id``: turns seen, chars extracted, decode failures,
max turn_idx. Each micro-batch folds its new turns into the state and
emits the *updated running totals* (update semantics) — the streaming
analog of :func:`pdftotext_spark.plans.pipeline.assemble_conversations`'s
rollup columns, usable for live conversation monitoring while the
batch job owns the byte-exact text assembly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pdftotext_spark.plans.pipeline import extract_turns
from pdftotext_spark.streaming.pipeline import drain, per_batch, read_transcript_stream

STATE_SCHEMA = "turns LONG, chars LONG, failures LONG, max_turn LONG"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns", T.LongType()),
        T.StructField("chars", T.LongType()),
        T.StructField("failures", T.LongType()),
        T.StructField("max_turn", T.LongType()),
    ]
)


def _accumulate(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    turns, chars, failures, max_turn = (
        state.get if state.exists else (0, 0, 0, -1)
    )
    for pdf in batches:
        turns += len(pdf)
        chars += int(pdf["extracted_text"].str.len().sum())
        failures += int(pdf["decode_failures"].sum())
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
    state.update((turns, chars, failures, max_turn))
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turns": [turns],
            "chars": [chars],
            "failures": [failures],
            "max_turn": [max_turn],
        }
    )


def conversation_state_stream(extracted_stream: DataFrame) -> DataFrame:
    """extracted turns stream → running per-conversation totals."""
    # _accumulate is pickled by module reference; executors need the
    # package shipped even when the upstream stages were JVM-only
    from pdftotext_spark.sources.shipping import ship_package

    ship_package(extracted_stream.sparkSession)
    return (
        extracted_stream.groupBy("conv_id").applyInPandasWithState(
            _accumulate,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stateful_stream_once(
    spark: Any,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain available input through extraction + stateful rollup into
    ``output_dir`` through ``per_batch`` (a file sink is append-only,
    so update-mode rows land via ``foreachBatch``): each micro-batch's
    updated totals replace its own ``batch_id=`` partition, so a
    replayed batch cannot duplicate rows. The latest row per conv_id
    is the current state."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger=1)
    rollup = conversation_state_stream(extract_turns(stream))
    body = per_batch(lambda batch, batch_id: {output_dir: batch})
    drain(rollup.writeStream.foreachBatch(body).outputMode("update"), checkpoint_dir)
