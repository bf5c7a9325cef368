"""Streaming ingest gate scored by the trained LR quality model.

The modern counterpart of the hand-written panel gate
(:mod:`pdftotext_spark.streaming.curation` ``panels=True``): the
classifier is trained by the BATCH authority
(:mod:`pdftotext_spark.operators.quality_lr` — the corpus-level
gradient-descent trainer) and its final weights row is written
out-of-band; the stream applies only the per-row feature extraction
and the shared sigmoid scoring expression. Same split as every gate
in this repo (near-dup store, benchmark shingles, mixture rates):
corpus-level state comes from batch, the stream evaluates row-local
rules.

The scoring expression is the IDENTICAL ``_SCORE_SQL`` string the
batch scorer evaluates (single-source helper discipline), over the
IDENTICAL ``_COUNTS_EXPR``/``_FEAT_SQL`` feature pipeline — a turn
scored at ingest and the same text scored by the batch job produce
the same integer micro score.

100 TB shape: the weights frame is ONE row (broadcast trivially);
the gate is a zero-shuffle projection per micro-batch — feature
extraction, sigmoid, threshold — with no joins against anything
corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftotext_spark.operators.quality_lr import (
    _SCORE_SQL,
    _lr_train,
    features_over,
)
from pdftotext_spark.streaming.pipeline import per_batch

# ingest keep threshold in micro units; 0.5 = the classifier's own
# decision boundary (quality_lr_scores.predicted_clean)
LR_GATE_THRESHOLD = 500_000


def write_lr_weights(spark, sf_dir: str, out_dir: str) -> None:
    """Materialize the batch-trained final weights row for the stream
    gate. Refresh out-of-band when the reference corpus (and so the
    model) moves."""
    weights, _ = _lr_train(spark, sf_dir)
    (
        spark.createDataFrame(
            [weights[-1]], ", ".join(f"w{k}m long" for k in range(6))
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def lr_filter_batch(output_dir: str, weights_dir: str):
    """:func:`~pdftotext_spark.streaming.pipeline.per_batch` body for
    the streaming quality gate: score every turn with the
    batch-trained model, keep turns at or above
    :data:`LR_GATE_THRESHOLD`, and write survivors (with their
    ``score_micro``) to ``output_dir``."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        w = batch.sparkSession.read.parquet(weights_dir)
        # NULL text would score NULL and vanish from BOTH sides of
        # the threshold — make the policy explicit, as the sibling
        # gates do (streaming/sketches.py): null-text turns drop here
        feats = features_over(batch.filter(F.col("text").isNotNull()))
        scored = feats.join(F.broadcast(w)).withColumn(
            "score_micro", F.expr(_SCORE_SQL)
        )
        return {
            output_dir: scored.filter(
                F.col("score_micro") >= LR_GATE_THRESHOLD
            ).select(*batch.columns, "score_micro")
        }

    return per_batch(gate)
