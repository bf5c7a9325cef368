"""Streaming ingest mixture gate: apply a batch-computed temperature
mixing plan (:mod:`pdftotext_spark.operators.mixing`) to a live
transcript feed.

The rates are corpus-level statistics, so — like the benchmark
shingle set of the curation gate — they are computed by the BATCH
authority (:func:`pdftotext_spark.operators.mixing.mixture_weights_for`
over the reference corpus) and materialized out-of-band; the stream
applies the per-row copy rule only. The rule is the IDENTICAL
``_NCOPIES_SQL`` expression the batch apply uses (single-source
helper discipline: a reimplementation here could silently drift),
keyed by the replay-stable ``conv_id:turn_idx`` string instead of
``doc_id`` — deterministic across replays and engines, like every
md5-derived draw in this repo.

Semantics at ingest: a row with ``n_copies`` = 0 is dropped
(downsampling happens at the door); a row with ``n_copies`` >= 1 is
written WITH its copy count — epoch expansion belongs to the
training-set build downstream (:func:`mixture_pack_for`), not the
ingest stream. A source absent from the rates table rates 0 and is
dropped — the mixing plan IS the admission list.

100 TB shape: the rates frame is #sources-sized by construction (it
cannot grow with the corpus — unlike the benchmark shingle set, which
is why THIS join may broadcast unconditionally); the gate is one
broadcast join + a zero-shuffle projection per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftotext_spark.operators.mixing import (
    _NCOPIES_SQL,
    mixture_weights_for,
)
from pdftotext_spark.streaming.dedup import replay_key
from pdftotext_spark.streaming.pipeline import per_batch


def write_mixture_rates(corpus_docs: DataFrame, out_dir: str) -> None:
    """Materialize the mixing plan the stream gate applies: one row
    per source with its expected copies-per-doc rate, from the batch
    authority. Refresh out-of-band when the reference corpus moves."""
    (
        mixture_weights_for(corpus_docs)
        .select("source", "rate_micro")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def mixture_filter_batch(
    output_dir: str, rates_dir: str, source_col: str = "role"
):
    """:func:`~pdftotext_spark.streaming.pipeline.per_batch` body for
    the streaming mixture gate.

    Per micro-batch: join the (broadcastable, #sources-row) rates
    table on ``source_col``, evaluate the batch ``_NCOPIES_SQL`` copy
    rule with the ``conv_id:turn_idx`` key as the md5 identity, drop
    rows with zero copies, and write survivors (plus their
    ``n_copies``) to ``output_dir``."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        rates = batch.sparkSession.read.parquet(rates_dir).select(
            F.col("source").alias(source_col), "rate_micro"
        )
        gated = (
            batch.withColumn("did", replay_key())
            .join(F.broadcast(rates), source_col, "left")
            # absent from the plan -> rate 0 -> dropped (the plan is
            # the admission list)
            .withColumn(
                "rate_micro", F.coalesce("rate_micro", F.lit(0).cast("long"))
            )
            .withColumn(
                "n_copies", F.expr(_NCOPIES_SQL).cast("long")
            )
            .filter(F.col("n_copies") >= 1)
            .drop("did", "rate_micro")
        )
        return {output_dir: gated}

    return per_batch(gate)
