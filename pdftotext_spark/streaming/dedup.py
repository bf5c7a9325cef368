"""Streaming exact deduplication: content-hash ``dropDuplicates``
with a watermark bounding the dedup state — the standard Structured
Streaming shape for "never emit the same document twice" ingestion.

State is keyed by the md5 of the payload; the watermark lets Spark
evict keys older than the horizon, so state is O(docs per window),
not O(all docs ever). Duplicates arriving *after* the horizon would
re-emit — the documented trade-off of every watermarked streaming
dedup (run the batch ``dedup_exact`` downstream for the global pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdftotext_spark.plans.pipeline import read_committed
from pdftotext_spark.streaming.pipeline import per_batch, run_gate


def replay_key() -> Column:
    """The replay-stable per-turn identity string every streaming
    gate keys md5 draws and min-key tiebreaks on:
    ``conv_id:turn_idx`` with the turn zero-padded to 12 digits so
    lexicographic order == numeric order. ONE definition — the
    near-dup filter's survivor policy and the mixture gate's
    Bernoulli draw both use it; a divergent padding or separator at
    either site would silently de-correlate replays."""
    return F.concat_ws(
        ":", F.col("conv_id"), F.format_string("%012d", "turn_idx")
    )


def dedup_stream(
    transcripts: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Drop payload-identical turns across micro-batches.

    ``dropDuplicatesWithinWatermark`` keeps a turn's content hash in
    the state store until the watermark passes it; any later arrival
    with the same hash inside the horizon is dropped exactly once
    regardless of micro-batch boundaries."""
    hashed = transcripts.withColumn("content_md5", F.md5("text"))
    return (
        hashed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
        .drop("content_md5")
    )


def neardup_filter_batch(output_dir: str, store_dir: str):
    """:func:`~pdftotext_spark.streaming.pipeline.per_batch` body for
    streaming NEAR-duplicate dedup.

    Per micro-batch: MinHash-sign the new turns (two-digest slice
    scheme, :func:`pdftotext_spark.operators.dedup.signatures_for`),
    explode to LSH bands, and drop every turn that (a) shares a band
    bucket with an already-accepted turn in the persistent band store,
    or (b) loses an in-batch band collision to a lower-keyed turn (the
    one-pass min-key survivor policy of ``apply_dedup``). Survivors
    and then their bands go to ``output_dir`` and ``store_dir``, so
    later batches see them; the store probe excludes the current
    ``batch_id``, so a replayed batch never self-collides with its
    prior attempt.

    LSH-positive ⇒ drop is deliberately *approximate* (candidate-level,
    no exact verify): the streaming filter's job is cheap high-recall
    suppression at ingest; the batch ``dedup_groups``/``apply_dedup``
    pass downstream is the exact authority. At 100 TB the store is the
    thing to manage: it holds 4 band rows per accepted doc (not text),
    should live in a partitioned table (Iceberg when available), and
    the per-batch probe is one left-semi join on (band_idx, band_hash)
    that AQE broadcasts while the store is small.
    """
    from pdftotext_spark.operators.dedup import bands_for, signatures_for

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        keys = ["conv_id", "turn_idx"]
        batch = batch.localCheckpoint()  # consumed by 3 plans below
        bands = bands_for(signatures_for(batch, keys), keys).localCheckpoint()
        # (b) in-batch: min sortable key per band bucket survives
        kb = bands.withColumn("k", replay_key())
        a, b = kb.alias("a"), kb.alias("b")
        losers = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.k") > F.col("b.k")),
            )
            .select(F.col("a.conv_id").alias("conv_id"), F.col("a.turn_idx").alias("turn_idx"))
        )
        # (a) cross-batch: anything banding with the accepted store,
        # minus this batch's own prior attempt (pruned at the scan).
        # A corrupt store raises rather than degrading the filter into
        # a pass-everything no-op
        store = read_committed(batch.sparkSession, store_dir)
        if store is not None:
            store = store.filter(F.col("batch_id") != batch_id)
            losers = losers.union(
                bands.join(store, ["band_idx", "band_hash"], "left_semi").select(*keys)
            )
        losers = losers.distinct()
        survivors = batch.join(losers, keys, "left_anti").localCheckpoint()
        return {
            output_dir: survivors,
            store_dir: bands.join(losers, keys, "left_anti"),
        }

    return per_batch(gate)


def run_neardup_dedup_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
) -> None:
    """Drain available input through the near-dup filter; the batch
    dedup pass downstream remains the exact near-dup authority."""
    run_gate(spark, input_dir, checkpoint_dir, neardup_filter_batch(output_dir, store_dir))
