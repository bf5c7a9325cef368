"""Cluster-safe DataFrame materialization for iterative operators.

Iterative loops and multi-consumer frames must cut lineage or each
consumer re-derives its whole upstream: the unrolled Lloyd trainer,
the ``quality_lr`` feature table, the LSH signature-reuse points and
the containment shingle table. (Connected components need no cut:
``dedup.dedup_groups`` reads its pairs once, into a driver
union-find.) ``localCheckpoint`` does that cheaply but stores blocks on executor
local disk/memory only — on a real cluster a single lost executor
aborts a 100 TB job mid-iteration (VERDICT r3 §wrong #1).

:func:`materialize` therefore routes by deployment: when the session
has a **reliable** checkpoint directory configured
(``spark.sparkContext.setCheckpointDir`` → HDFS/object store), it uses
``DataFrame.checkpoint`` (replicated, survives executor loss);
otherwise it falls back to ``localCheckpoint`` (the right call on
local[n] where executor loss means the whole app died anyway).

Usage keeps chains readable::

    df.transform(materialize)           # eager
    df.transform(materialize_lazy)      # lazy (materializes under the
                                        # next action)

:func:`spread` is the partition-count counterpart: it fans a
single-split input out across the cores before a per-row fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _has_reliable_checkpoint_dir(df: DataFrame) -> bool:
    sc = df.sparkSession.sparkContext
    try:
        return sc.getCheckpointDir() is not None
    except Exception:  # very old APIs / mocked contexts
        return False


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage: reliable ``checkpoint`` when a checkpoint dir is
    configured, else ``localCheckpoint``.

    The reliable path persists first: ``ReliableRDDCheckpointData``
    runs a SEPARATE job to write the checkpoint files, which would
    recompute the whole un-cached upstream plan a second time — the
    exact cost these cuts exist to avoid (review r4). Reliable mode is
    ALWAYS eager, even for ``eager=False`` callers: an eager cut lets
    the cache be dropped immediately (a lazy persist would leak one
    pinned cache entry per lazy cut for the session lifetime — second
    review pass r4), at the price of one extra job per cut in
    cluster mode — inherent to reliable checkpointing. local[n] keeps
    the 1-job lazy fusion.

    Checkpoint-file lifetime (ADVICE r4): each reliable cut writes a
    permanent ``rdd-*`` directory that Spark does NOT remove by
    default — an iterative loop leaks one per round for the
    application lifetime. Cluster deployments must set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (in
    :func:`pdftotext_spark.plans.pipeline.session_confs`) so the
    ContextCleaner deletes superseded checkpoints when their RDDs are
    garbage-collected; it is a context-start conf, so it cannot be
    applied from here."""
    if _has_reliable_checkpoint_dir(df):
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=True)
        df.unpersist()
        return out
    return df.localCheckpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Lazy variant — the cut materializes under the caller's next
    action (the cut and its consumer share one Spark job)."""
    return materialize(df, eager=False)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` partitions (hashed
    by ``keys``, round-robin without them) when it has fewer; else
    return it unchanged.

    For a per-row fan-out (an explode, a row function) over a small
    input: one small parquet file scans as one split, so the whole
    fan-out would run on one core, and AQE cannot see an explode's
    row multiplier (it coalesces a keyless repartition back down), so
    the count is pinned here. A many-file corpus already scans into
    at least ``defaultParallelism`` splits and passes through.

    Apply it only to a frame without an Exchange: under AQE,
    ``rdd.getNumPartitions()`` on such a frame runs a job (a scan or a
    narrow map over one runs none)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *keys)
