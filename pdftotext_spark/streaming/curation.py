"""Streaming ingest curation gate: the quality + decontamination
front-door for a live transcript feed, complementing the streaming
dedup filters (:mod:`pdftotext_spark.streaming.dedup`).

Both checks are per-turn and STATELESS against a static benchmark
artifact, so unlike the near-dup filter there is no evolving store:
- shallow quality gates — the same Gopher/C4 word-count and mean-
  word-length windows as the batch operators
  (:mod:`pdftotext_spark.operators.textstats`);
- decontamination — the fraction of the turn's sampled whole-document
  shingles (:func:`pdftotext_spark.operators.dedup._sampled_shingle_expr`,
  the identical md5-threshold keep rule as every batch consumer)
  found in a pre-materialized benchmark shingle set; turns above
  :data:`pdftotext_spark.operators.dedup.CONTAMINATION_THRESHOLD`
  are quarantined at ingest.

At 100 TB the benchmark set is bounded by the BENCHMARK corpus (not
the stream), lives in a parquet/Iceberg table refreshed out-of-band,
and the per-batch probe is one left join AQE broadcasts while the
set is small. The stream gate is the cheap high-recall front door;
the batch ``decontaminate_apply`` pass downstream remains the exact
authority (same split as streaming vs batch near-dup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftotext_spark.streaming.pipeline import per_batch, run_gate


def write_benchmark_shingles(bench_docs: DataFrame, out_dir: str) -> None:
    """Materialize the static benchmark shingle set the stream gate
    probes: distinct sampled whole-document shingles of the held-out
    benchmark corpus (one column ``sh``). Refresh out-of-band when
    the benchmark changes."""
    from pdftotext_spark.operators.dedup import _sampled_shingle_expr

    (
        bench_docs.select(
            F.explode(F.expr(_sampled_shingle_expr("text"))).alias("sh")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def write_benchmark_ngrams(bench_docs: DataFrame, out_dir: str) -> None:
    """Materialize the static benchmark token-13-gram set for the
    stream gate's GPT-3-rule probe: distinct lowercased 13-token
    windows of the benchmark corpus (one column ``g``) — the SAME
    :func:`pdftotext_spark.operators.dedup.token_ngram_expr` the
    batch ``ngram_decontamination`` uses."""
    from pdftotext_spark.operators.dedup import token_ngram_expr

    (
        bench_docs.select(
            F.explode(F.expr(token_ngram_expr("text"))).alias("g")
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def curation_filter_batch(output_dir: str, bench_dir: str,
                          panels: bool = False,
                          ngram_bench_dir: str | None = None):
    """:func:`~pdftotext_spark.streaming.pipeline.per_batch` body for
    the streaming curation gate.

    Per micro-batch: apply the quality windows, score each surviving
    turn's contamination fraction against the static benchmark
    shingle set, drop turns above the threshold, and write survivors
    to ``output_dir``.

    ``ngram_bench_dir`` additionally applies the batch
    ``ngram_decontamination`` rule at ingest: a turn with ANY
    lowercased 13-token window present in the pre-materialized
    benchmark gram set (:func:`write_benchmark_ngrams`) is dropped —
    the any-collision verdict, stricter than the fractional shingle
    threshold.

    ``panels=True`` additionally requires the batch
    :func:`pdftotext_spark.operators.curation.quality_vote_for`
    unanimous ``keep_all`` verdict (shallow gate + Gopher quality +
    Gopher repetition + C4 + FineWeb; all per-turn stateless, so they
    stream without a store). Turns are keyed for the vote by the
    deterministic ``xxhash64(conv_id, turn_idx)`` — replay-stable,
    unlike monotonically_increasing_id."""
    from pdftotext_spark.operators import textstats
    from pdftotext_spark.operators.curation import quality_vote_for
    from pdftotext_spark.operators.dedup import (
        CONTAMINATION_THRESHOLD,
        _sampled_shingle_expr,
        contamination_scores_for,
        token_ngram_expr,
    )

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        spark = batch.sparkSession
        keys = ["conv_id", "turn_idx"]
        q = batch.filter(textstats.qf_keep_predicate())
        if panels:
            q = q.withColumn("doc_id", F.xxhash64(*keys))
            keep = quality_vote_for(q.select("doc_id", "text")).filter("keep_all")
            q = q.join(keep, "doc_id", "left_semi").drop("doc_id")
        q = q.localCheckpoint()  # consumed by the shingle probe AND the anti-join
        # no broadcast hint: the benchmark set refreshes out-of-band
        # and can outgrow broadcastable size — AQE broadcasts it while
        # small and degrades to a shuffle join when not (review r5).
        # Scoring goes through the SAME single-source helper as the
        # batch authority (review r5 pass 4: a reimplemented marker
        # aggregation here could silently drift from it).
        bench = spark.read.parquet(bench_dir).select("sh")
        sh = q.select(
            *keys,
            F.explode(F.expr(_sampled_shingle_expr("text"))).alias("sh"),
        ).distinct()
        frac = contamination_scores_for(sh, bench, keys)
        losers = frac.filter(
            F.col("contamination_frac") > CONTAMINATION_THRESHOLD
        ).select(*keys)
        survivors = q.join(losers, keys, "left_anti")
        if ngram_bench_dir is not None:
            gbench = spark.read.parquet(ngram_bench_dir).select("g")
            gram_losers = (
                q.select(
                    *keys,
                    F.explode(F.expr(token_ngram_expr("text"))).alias("g"),
                )
                .join(gbench, "g", "left_semi")
                .select(*keys)
                .distinct()
            )
            survivors = survivors.join(gram_losers, keys, "left_anti")
        return {output_dir: survivors}

    return per_batch(gate)


def run_curation_stream(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bench_dir: str,
    panels: bool = False,
    ngram_bench_dir: str | None = None,
) -> None:
    """Drain available input through the curation gate."""
    body = curation_filter_batch(
        output_dir, bench_dir, panels=panels, ngram_bench_dir=ngram_bench_dir
    )
    run_gate(spark, input_dir, checkpoint_dir, body)
