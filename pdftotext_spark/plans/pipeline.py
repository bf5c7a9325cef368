"""Batch extraction pipeline over a transcripts table (SURVEY.md §7.3).

Scale design (BASELINE.json north_rule — 10^12 turns, 1000 executors):

- **Shuffle-free extraction by default**: per-turn work is keyless, so
  the parquet scan's byte splits already balance it (mega-conversation
  skew is a *key* phenomenon — it cannot skew a byte-split scan). The
  deterministic salted repartition
  (``pmod(xxhash64(conv_id, turn_idx), SALT)``) remains available for
  pathological file layouts; measured, skipping it is ~2× end-to-end
  (BENCH/BASELINE.md).
- **Conversation assembly** is the only shuffle-by-key stage
  (groupBy + array_sort(collect_list), optional two-level chunking for
  unbounded conversation sizes) — AQE handles residual skew
  (``spark.sql.adaptive.enabled`` + skew settings in
  :func:`session_confs`).
- **Resumability**: ``resume_anti_join`` drops `(conv_id, turn_idx)`
  pairs already committed to the target table (Iceberg snapshot or
  parquet staging dir) — an idempotent restart needs no checkpoint
  files of its own. The join broadcasts when the committed side is
  small and AQE-converts otherwise.
- **Metrics manifest** (north_rule lineage requirement): per-partition
  rows `{partition_id, turns_parsed, decode_failures, images_extracted,
  wall_ms, run_id, committed_at}`. ``run_extraction`` stamps
  ``(partition_id, run_id)`` onto every output row and counts the
  manifest inside the extraction write itself: each extraction task
  adds its sums to a :class:`PartitionSums` accumulator keyed by its
  partition id, so only this run's increment is counted (resume never
  double-counts) and no job re-reads committed files for it. Spark
  merges a result task's accumulator updates once, on its first
  successful attempt; a shuffle-map stage re-merges them when it is
  resubmitted, so nothing may add an Exchange between the extraction
  and the write. :func:`metrics_manifest` is the same manifest as a
  Spark aggregation over any extracted frame.
- **Known-schema reads**: the committed output is read by
  :data:`COMMITTED_SCHEMA`, both for the resume and for the returned
  read-back, so neither launches a schema-inference job; files written
  before the lineage columns existed read them as null.
"""

from __future__ import annotations

from functools import partial

from pyspark import AccumulatorParam, TaskContext
from pyspark.accumulators import _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdftotext_spark.functions.extract import (
    EXTRACT_SCHEMA,
    FRAGMENT_SCHEMA,
    PASSTHROUGH_FIELDS,
    fragment_rows,
    map_rows,
    turn_row,
)

DEFAULT_SALT = 64

# what run_extraction commits: the extraction columns, then the lineage
# columns it stamps before the write
COMMITTED_SCHEMA = T.StructType(
    EXTRACT_SCHEMA.fields
    + [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("run_id", T.StringType()),
    ]
)
MANIFEST_DDL = (
    "partition_id int, turns_parsed long, decode_failures long, "
    "images_extracted long, wall_ms long, run_id string"
)


def session_confs() -> dict[str, str]:
    """Recommended session configuration for the extraction job.

    Scale-dependent values are env-parameterized with local defaults
    (r7, guide §2.2/§9 discipline): the driver's bench stays
    comparable on ``local[32]``, while a cluster deployment overrides
    without code edits —

    - ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (default 32): on a cluster
      size so post-shuffle partitions land in the 100 MB–1 GB band
      (e.g. ~2–3x total executor cores as a floor) and let AQE
      coalescing shrink small stages; 32 is a small-machine default,
      not a tuned constant.
    - ``SPARK_GRAFT_MAX_PARTITION_BYTES`` (default 1m): extraction
      burns ~1 CPU-sec per scanned MB — far above scan cost — so
      splits sized to ~seconds-of-CPU keep every core fed; pure-scan
      relational work on a cluster wants the IO-optimal 128m–1g
      instead.

    ``spark.python.sql.dataFrameDebugging.enabled`` is off: with it on,
    PySpark wraps every ``pyspark.sql.functions`` call so that it
    captures the Python call stack and sends it to the JVM (several
    py4j round trips per call). Building the curation queries makes
    thousands of such calls: three ``quality_vote_for`` constructions
    over sf0.001 ``documents`` (local[4], 4-core host) made about
    33,600 py4j calls in 1.1 s with it on, and 10,300 in 0.8 s with it
    off. The cost: a DataFrame
    error's "== DataFrame ==" context no longer names the Python
    line that built the failing column; its error class and SQLSTATE
    are unchanged.
    """
    import os

    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # measured on the 100k-turn fixture (BENCH/BASELINE.md): large
        # Arrow batches beat 2k-row ones (fewer pipe round-trips); with
        # CPU-matched ~1m scan splits a partition is one batch anyway
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # extraction burns ~1 CPU-sec per scanned MB — orders of
        # magnitude above scan cost — so splits far below the IO-optimal
        # 128m keep every core fed and bound straggler tails. Measured
        # on the 100k-turn fixture: 1m splits 42k turns/s vs 20k at 16m
        # (BENCH/BASELINE.md). On a real cluster, size this to
        # ~seconds-of-CPU per split for the same reason.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"
        ),
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
        ),
        # reliable-checkpoint hygiene (ADVICE r4): every materialize()
        # under a configured checkpoint dir writes a permanent rdd-*
        # directory; with this on, the ContextCleaner deletes a
        # checkpoint's files once its RDD is garbage-collected, so
        # iterative CC loops don't accumulate one orphan dir per round
        # for the application lifetime (must be set before the context
        # starts — a session conf, not settable from materialize()).
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        # no Python call-site capture per functions call (see above)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Load the transcripts input: Iceberg table name if the catalog
    resolves it, else a path — parquet by default, with JSONL / CSV /
    ORC picked by extension (S1/S2 analog, widened to the ingest
    formats a collection pipeline actually lands: JSONL dumps and CSV
    exports read with the explicit transcript schema — never inferred,
    so malformed rows become nulls instead of schema drift)."""
    if "/" not in path_or_table:
        try:
            return spark.read.table(path_or_table)
        except Exception:
            pass
    low = path_or_table.rstrip("/").lower()
    if low.endswith((".jsonl", ".json", ".ndjson")):
        return spark.read.schema(TRANSCRIPT_DDL).json(path_or_table)
    if low.endswith((".csv", ".tsv")):
        return spark.read.schema(TRANSCRIPT_DDL).option(
            "header", "true"
        ).option("sep", "\t" if low.endswith(".tsv") else ",").option(
            "multiLine", "true"
        ).option("escape", '"').csv(path_or_table)
    if low.endswith(".orc"):
        return spark.read.orc(path_or_table)
    if low.endswith(".xml"):
        # Spark 4 native XML datasource (rowTag per transcript turn);
        # explicit schema like the other text formats (Avro is NOT
        # wired: the external spark-avro module isn't in this image —
        # probed, "Failed to find data source: avro")
        return (
            spark.read.schema(TRANSCRIPT_DDL)
            .option("rowTag", "turn")
            .format("xml")
            .load(path_or_table)
        )
    return spark.read.parquet(path_or_table)


def extract_turns(
    transcripts: DataFrame,
    n_partitions: int | None = None,
    options=None,
    tally=None,
) -> DataFrame:
    """Per-turn extraction via ``mapInPandas`` — shuffle-free by
    default.

    Extraction is per-row pure (no key), so the parquet scan's byte
    splits already balance work: mega-conversation skew is a *key*
    phenomenon and cannot skew a keyless byte-split scan. Measured on
    the 100k-turn fixture, skipping the repartition removes a
    ~120 MB shuffle and its barrier (~2× end-to-end; BENCH/BASELINE.md).

    Pass ``n_partitions`` to force a salted repartition instead — for
    pathological file layouts (one giant unsplittable file, heavily
    clustered payload sizes) the deterministic turn-level salt
    ``pmod(xxhash64(conv_id, turn_idx), DEFAULT_SALT)`` spreads any
    single conversation across ``DEFAULT_SALT`` partitions.

    Input must carry the :data:`TRANSCRIPT_DDL` columns; output schema is
    :data:`EXTRACT_SCHEMA`. ``options`` (a picklable
    :class:`~pdftotext_spark.core.document.ExtractOptions`, or None for
    defaults) rides inside the row function, so per-turn behavior
    (layout mode, de-hyphenation, markers, page selection, time
    budget, ...) is configurable at the pipeline level. ``tally``
    is passed to :func:`~pdftotext_spark.functions.extract.map_rows`.
    """
    if n_partitions is not None:
        transcripts = transcripts.repartition(
            n_partitions,
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(DEFAULT_SALT)),
        )
    keys = [f.name for f in PASSTHROUGH_FIELDS]
    return map_rows(transcripts, keys, ["text"], EXTRACT_SCHEMA, partial(turn_row, options), tally)


def extract_fragments_df(transcripts: DataFrame) -> DataFrame:
    """Exploded positioned-fragments table (FIXTURES.md §4) for the
    layout/captures operator family."""
    return map_rows(transcripts, ["conv_id", "turn_idx"], ["text"], FRAGMENT_SCHEMA, fragment_rows)


def assemble_conversations(
    extracted: DataFrame,
    separator: str = "\n",
    chunk_size: int | None = None,
) -> DataFrame:
    """Reassemble per-conversation text under stable
    ``(conv_id, turn_idx)`` ordering (the north_rule invariant).

    One shuffle on conv_id; ``array_sort(collect_list(struct(...)))``
    gives a deterministic order-independent assembly (no window
    needed — groupBy + array_sort keeps partial aggregation map-side).

    ``chunk_size`` enables the *two-level* assembly for
    mega-conversations: turns first concatenate within
    ``turn_idx // chunk_size`` chunks, then chunks concatenate per
    conversation — no single aggregation buffer ever holds more than
    ``chunk_size`` turns, so a 10^7-turn conversation cannot OOM an
    executor. Output is byte-identical to the single-level path
    (tested); use it whenever conversation sizes are unbounded.
    """
    def _ordered_concat(df, key_cols, order_col, text_col):
        return df.groupBy(*key_cols).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(order_col, text_col))),
                    lambda s: s[text_col],
                ),
                separator,
            ).alias("conversation_text"),
            F.sum("n_turns").alias("n_turns") if "n_turns" in df.columns
            else F.count("*").alias("n_turns"),
            F.sum("decode_failures").alias("decode_failures"),
            F.max("last_ts" if "last_ts" in df.columns else "ts").alias("last_ts"),
        )

    if chunk_size is None:
        return _ordered_concat(
            extracted, ["conv_id"], "turn_idx", "extracted_text"
        )
    chunked = extracted.withColumn(
        "chunk_no", (F.col("turn_idx") / F.lit(chunk_size)).cast("long")
    )
    stage1 = _ordered_concat(
        chunked, ["conv_id", "chunk_no"], "turn_idx", "extracted_text"
    ).withColumnRenamed("conversation_text", "chunk_text")
    return _ordered_concat(stage1, ["conv_id"], "chunk_no", "chunk_text")


def metrics_manifest(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage/metrics manifest (north_rule) as a Spark
    aggregation. :func:`run_extraction` counts the same rows inside its
    write instead (:class:`PartitionSums`).

    If the frame already carries a ``partition_id`` column (stamped at
    extraction time by :func:`run_extraction`), it is trusted — so the
    manifest reflects the *extraction tasks*, not whatever scan
    partitioning a later read-back happens to have."""
    if "partition_id" not in extracted.columns:
        extracted = extracted.withColumn("partition_id", F.spark_partition_id())
    return (
        extracted
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("turns_parsed"),
            F.sum("decode_failures").alias("decode_failures"),
            F.sum("n_images").alias("images_extracted"),
            (F.sum("extract_us") / F.lit(1000)).cast("long").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )


def resume_anti_join(transcripts: DataFrame, committed: DataFrame) -> DataFrame:
    """Drop turns already present in the committed output —
    idempotent resume from an Iceberg snapshot / staging dir
    (SURVEY.md §7.8). AQE picks broadcast vs shuffle join at runtime;
    the join key is narrow (two columns) either way."""
    return transcripts.join(
        committed.select("conv_id", "turn_idx"),
        on=["conv_id", "turn_idx"],
        how="left_anti",
    )


def read_committed(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """Read a committed parquet output or store, or None when nothing
    is committed there yet: the path is missing, or it holds no data
    files. Any other failure (a corrupt or unreadable file) raises —
    treating it as "nothing committed" would re-process and duplicate
    everything already there.

    With ``schema`` the read infers nothing (no job, no footer opened):
    a path with no data files reads as an empty frame, and a corrupt
    file raises from the first job that scans it."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


class PartitionSums(AccumulatorParam):
    """Accumulator of ``{partition_id: (turns, decode_failures,
    n_images, extract_us)}`` sums."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for pid, sums in other.items():
            old = acc.get(pid)
            acc[pid] = sums if old is None else tuple(a + b for a, b in zip(old, sums))
        return acc


def _tally(counter, frame) -> None:
    """``map_rows`` tally of the extraction: add one output frame's
    sums to ``counter`` under the running task's partition id."""
    if len(frame):
        counter.add({
            TaskContext.get().partitionId(): (
                len(frame),
                int(frame["decode_failures"].sum()),
                int(frame["n_images"].sum()),
                int(frame["extract_us"].sum()),
            )
        })


def lineage_increment(
    transcripts: DataFrame,
    run_id: str,
    n_partitions: int | None = None,
    options=None,
    counter=None,
) -> DataFrame:
    """The frame :func:`run_extraction` writes: :func:`extract_turns`
    with ``(partition_id, run_id)`` stamped on every row. With a
    :class:`PartitionSums` ``counter``, each extraction task adds its
    sums to it; the write plan must keep that extraction in its result
    stage (no Exchange above it)."""
    tally = None if counter is None else partial(_tally, counter)
    return (
        extract_turns(transcripts, n_partitions=n_partitions, options=options, tally=tally)
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
    )


def write_manifest(spark: SparkSession, sums: dict, run_id: str, metrics_path: str) -> None:
    """Append the manifest of one run from its :class:`PartitionSums`
    value: the rows :func:`metrics_manifest` gives over the run's
    committed increment, written as one file from a local frame."""
    import pandas as pd

    cols = ["partition_id", "turns_parsed", "decode_failures", "images_extracted", "wall_ms"]
    pdf = pd.DataFrame(
        [(pid, n, fails, images, us // 1000) for pid, (n, fails, images, us) in sorted(sums.items())],
        columns=cols,
    ).astype({"partition_id": "int32", **dict.fromkeys(cols[1:], "int64")})
    pdf["run_id"] = run_id
    (
        spark.createDataFrame(pdf, MANIFEST_DDL)
        .withColumn("committed_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(metrics_path)
    )


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str | None = None,
    metrics_path: str | None = None,
    run_id: str = "run-0",
    resume: bool = True,
    options=None,
    n_partitions: int | None = None,
) -> DataFrame:
    """End-to-end job: read → (resume filter) → extract → write +
    manifest. Returns the extracted DataFrame (lazily if not written).
    ``options`` is an :class:`~pdftotext_spark.core.document.
    ExtractOptions` (or None for defaults) — it rides inside the
    pickled UDF so the full option surface reaches executors,
    ``global_deadline_epoch`` (the job-wide wall deadline) included.
    ``n_partitions`` forces :func:`extract_turns`' salted repartition
    (pathological file layouts only; default: scan splits).

    Jobs launched with an output: the committed-key scan of a resume
    (a broadcast, or a shuffle for a large output), the extraction
    write, and the manifest write; the input's own schema inference,
    if its format needs one. The returned read-back is lazy and read
    by :data:`COMMITTED_SCHEMA`, so rows committed before the lineage
    columns existed carry null ``partition_id``/``run_id``."""
    transcripts = read_transcripts(spark, input_path)
    if output_path is None:
        return extract_turns(transcripts, n_partitions=n_partitions, options=options)
    if resume:
        committed = read_committed(spark, output_path, COMMITTED_SCHEMA)
        if committed is not None:
            transcripts = resume_anti_join(transcripts, committed)
    counter = None if metrics_path is None else spark.sparkContext.accumulator({}, PartitionSums())
    lineage_increment(transcripts, run_id, n_partitions, options, counter).write.mode(
        "append"
    ).parquet(output_path)
    if counter is not None:
        # every task's update is merged (a blocking call into the
        # driver's accumulator server) before the write returns; the
        # registry would otherwise keep one accumulator per run
        _accumulatorRegistry.pop(counter.aid)
        write_manifest(spark, counter.value, run_id, metrics_path)
    return spark.read.schema(COMMITTED_SCHEMA).parquet(output_path)


def export_training_jsonl(
    conversations: DataFrame,
    path: str,
    compression: str = "gzip",
    source: str = "pdftotext_spark",
    mode: str = "error",
) -> None:
    """Final sink of a training-data build: one JSON object per
    assembled conversation in the ``{"text": ..., "meta": {...}}``
    convention most LLM data loaders consume, written as compressed
    JSONL (gzip by default — splittable-enough at one file per
    partition, and every writer/reader speaks it; pass ``zstd``/
    ``none`` where the stack supports them).

    Keeps the write embarrassingly parallel: no coalesce, one shard
    per upstream partition — at 100 TB the shard count IS the
    parallelism of the downstream loader.

    ``mode`` defaults to ``error`` (fail if the target exists): the
    final training sink must never silently clobber a dataset — pass
    ``overwrite`` explicitly to rebuild in place (ADVICE r4)."""
    out = conversations.select(
        F.col("conversation_text").alias("text"),
        F.struct(
            F.col("conv_id").alias("id"),
            F.col("n_turns").cast("long").alias("n_turns"),
            F.length("conversation_text").cast("long").alias("n_chars"),
            F.lit(source).alias("source"),
        ).alias("meta"),
    )
    out.write.mode(mode).option("compression", compression).json(path)
