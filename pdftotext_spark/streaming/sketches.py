"""Streaming sketch maintenance across micro-batches: HyperLogLog
(distinct payloads), Count-Min (token frequencies), Bloom
(membership) and the log2 quantile histogram (value distribution).

All four follow one discipline — each is a
:func:`~pdftotext_spark.streaming.pipeline.per_batch` gate folding a
batch into its own ``batch_id=`` store partition, and a reader merges
partitions on demand — but their merge algebras differ, and that
difference is the whole design:

- HLL register max-merge and Bloom bit-set union are IDEMPOTENT:
  replays and re-drains under ANY batching are safe by construction.
- CMS counter and quantile-bucket sum-merges are only ADDITIVE:
  exactly-once holds within a checkpoint lineage, so a fresh lineage
  resets those stores.

At 100 TB the stores are tiny (≤64 register rows / ≤2^16 bit rows /
depth×width counters / ≤64 buckets per batch); readers never touch
the payload stream again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftotext_spark.operators.sketches import (
    BLOOM_K,
    _bloom_pos_sql,
    cms_counters,
    hll_estimate_from_registers,
    hll_registers,
    qsketch_bucket_col,
    qsketch_table_from_hist,
)
from pdftotext_spark.streaming.pipeline import per_batch, run_gate


def _hadoop_path(spark: SparkSession, path_str: str):
    """Resolve ``path_str`` through the JVM Hadoop FileSystem API so
    existence checks and deletes work for ANY scheme the cluster knows
    (file://, hdfs://, s3a://, ...) — ``os.path``/``shutil`` silently
    no-op on non-local URIs (ADVICE r3)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def reset_additive_store_on_fresh_lineage(
    spark: SparkSession, store_dir: str, checkpoint_dir: str
) -> bool:
    """ADDITIVE-state discipline (CMS counters, quantile buckets):
    per-batch partition overwrite is exactly-once only within one
    checkpoint lineage. A fresh checkpoint re-reads every file under
    new batch boundaries — summing that into surviving old partitions
    would double-count, so a fresh lineage deletes the store first.
    Returns True when a reset happened."""
    fs_c, p_c = _hadoop_path(spark, checkpoint_dir)
    if fs_c.exists(p_c):
        return False
    fs_s, p_s = _hadoop_path(spark, store_dir)
    if fs_s.exists(p_s):
        fs_s.delete(p_s, True)
        return True
    return False


def hll_register_batch(store_dir: str):
    """``per_batch`` body: fold the batch's payloads into an
    ``(idx, maxrho)`` register table in ``store_dir``."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        items = batch.filter(F.col("text").isNotNull()).select("text")
        return {store_dir: hll_registers(items, "text")}

    return per_batch(gate)


def hll_stream_estimate(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current distinct-payload estimate: max-merge every batch's
    registers, then the raw-HLL fold (one row: m, registers_hit,
    est_distinct)."""
    regs = (
        spark.read.parquet(store_dir)
        .groupBy("idx")
        .agg(F.max("maxrho").alias("maxrho"))
    )
    return hll_estimate_from_registers(regs)


def run_hll_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the currently-available transcript files through the
    sketch, small triggers so tests exercise real multi-batch
    merging."""
    run_gate(
        spark, input_dir, checkpoint_dir, hll_register_batch(store_dir),
        max_files_per_trigger,
    )


def cms_counter_batch(store_dir: str):
    """``per_batch`` body for a streaming Count-Min Sketch over the
    turn-text token stream: fold the batch's tokens into a
    ``(row_idx, bucket, cnt)`` counter table in ``store_dir``.
    Counters are ADDITIVE (unlike HLL's max registers), so
    exactly-once per committed batch comes only from ``per_batch``'s
    partition overwrite."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        toks = batch.select(
            F.explode(F.split(F.lower("text"), " ")).alias("tok")
        ).filter(F.col("tok") != "")
        return {store_dir: cms_counters(toks)}

    return per_batch(gate)


def cms_stream_counters(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current merged sketch: sum each counter across batches — ready
    for ``cms_point_estimate``."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def run_cms_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the transcript directory through the streaming CMS.

    ADDITIVE state caveat (unlike the idempotent HLL): per-batch
    partition overwrite is exactly-once only within one checkpoint
    lineage, where batch ids and their file coverage reproduce. A
    FRESH checkpoint re-reads every file under new batch boundaries —
    summing that into surviving old partitions would double-count, so
    a fresh lineage RESETS the store here (via the Hadoop FS API so
    HDFS/S3 store URIs reset too, not just local paths)."""
    reset_additive_store_on_fresh_lineage(spark, store_dir, checkpoint_dir)
    run_gate(
        spark, input_dir, checkpoint_dir, cms_counter_batch(store_dir),
        max_files_per_trigger,
    )


def bloom_insert_batch(store_dir: str):
    """``per_batch`` body for a streaming Bloom filter over payload
    texts: write the batch's distinct bit positions to ``store_dir``.
    Bit-set union is idempotent (like the HLL registers, unlike the
    CMS counters), so replays and re-drains under any batching are
    safe by construction."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        items = (
            batch.filter(F.col("text").isNotNull())
            .select(F.col("text").alias("sh"))
            .distinct()
        )
        bits = items.select(
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos_sql(i)).cast("long")
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("pos")
        ).distinct()
        return {store_dir: bits}

    return per_batch(gate)


def bloom_probe(spark: SparkSession, store_dir: str, probe: DataFrame) -> DataFrame:
    """Membership probe against the streamed bit set: returns the
    probe rows with a ``maybe_member`` flag (true ⇔ all K positions
    set; false negatives impossible). The merged bit set is ≤
    BLOOM_BITS rows — broadcastable at any corpus size."""
    bits = spark.read.parquet(store_dir).select("pos").distinct()
    ppos = probe.select(
        F.col("text").alias("sh")
    ).distinct().select(
        "sh",
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_sql(i)).cast("long") for i in range(BLOOM_K)]
            )
        ).alias("pos"),
    )
    hits = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("sh")
        .agg(F.count("*").alias("nhit"))
    )
    return (
        probe.select(F.col("text").alias("sh")).distinct()
        .join(hits, "sh", "left")
        .select(
            F.col("sh").alias("text"),
            (F.coalesce(F.col("nhit"), F.lit(0)) == BLOOM_K).alias(
                "maybe_member"
            ),
        )
    )


def run_bloom_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the transcript directory into the Bloom bit store."""
    run_gate(
        spark, input_dir, checkpoint_dir, bloom_insert_batch(store_dir),
        max_files_per_trigger,
    )


def qsketch_batch(store_dir: str):
    """``per_batch`` body for the streaming quantile sketch over a
    numeric ``value`` column: fold the batch into a log2-bucket
    histogram in ``store_dir``. Counters are ADDITIVE like the CMS, so
    the same lineage discipline applies (fresh checkpoint ⇒ reset
    store, handled by :func:`run_qsketch_stream`)."""

    def gate(batch: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        hist = (
            batch.filter(F.col("value") > 0)
            .select(qsketch_bucket_col().alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        return {store_dir: hist}

    return per_batch(gate)


def qsketch_stream_table(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged sketch in the same shape as the batch
    ``value_quantile_sketch`` output (bucket, cnt, cum_cnt, lo, hi) —
    feed it straight to ``qsketch_quantile``."""
    hist = (
        spark.read.parquet(store_dir)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return qsketch_table_from_hist(hist)


def run_qsketch_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string",
    max_files_per_trigger: int = 1,
) -> None:
    """Drain an events directory into the quantile store. Additive
    counters: a fresh checkpoint lineage resets the store (the CMS
    rule, via the Hadoop FS API)."""
    reset_additive_store_on_fresh_lineage(spark, store_dir, checkpoint_dir)
    run_gate(
        spark, input_dir, checkpoint_dir, qsketch_batch(store_dir),
        max_files_per_trigger, schema,
    )
