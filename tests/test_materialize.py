"""Cluster-safe lineage cuts (VERDICT r3 §wrong #1).

Operators that cut lineage must survive executor loss on a real
cluster: when a reliable checkpoint directory is configured
(``setCheckpointDir`` → HDFS/object store), every lineage cut routes
through ``DataFrame.checkpoint`` instead of executor-local
``localCheckpoint``, with identical results."""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"


def _unset_checkpoint_dir(spark):
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(spark.sparkContext._jvm.scala.Option.empty())


def test_materialize_routes_by_checkpoint_dir(spark, tmp_path):
    from pdftotext_spark.operators.materialize import materialize

    assert spark.sparkContext.getCheckpointDir() is None
    df = materialize(spark.range(8))
    # local path: executor-local blocks, nothing written anywhere
    assert df.count() == 8

    ckdir = str(tmp_path / "reliable")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        df2 = materialize(spark.range(8))
        assert df2.count() == 8
        # reliable path: RDD blocks persisted under the configured dir
        root = next(os.scandir(ckdir)).path
        assert any(e.name.startswith("rdd-") for e in os.scandir(root))
    finally:
        _unset_checkpoint_dir(spark)
    assert spark.sparkContext.getCheckpointDir() is None


def test_containment_pairs_identical_under_reliable_checkpointing(spark, tmp_path):
    """containment_pairs cuts its shingle table once; with a checkpoint
    dir configured the cut must write reliable checkpoints and the
    pairs must equal the localCheckpoint run row for row."""
    from pdftotext_spark.operators import dedup

    baseline = sorted(
        tuple(r) for r in dedup.containment_pairs(spark, SF_DIR).collect()
    )
    ckdir = str(tmp_path / "containment_reliable")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        reliable = sorted(
            tuple(r) for r in dedup.containment_pairs(spark, SF_DIR).collect()
        )
        root = next(os.scandir(ckdir)).path
        rdd_dirs = [e.name for e in os.scandir(root) if e.name.startswith("rdd-")]
        assert rdd_dirs, "reliable checkpoint dir unused — still localCheckpoint?"
    finally:
        _unset_checkpoint_dir(spark)
    assert baseline == reliable
    assert len(baseline) > 0


def _jobs_of(spark, fn):
    """``fn()``'s result and the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"spread-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return out, list(jobs)


def test_spread_passes_a_many_split_scan_through(spark, tmp_path):
    """A scan that already has defaultParallelism splits (a 4-file
    directory) comes back as the same frame: no Exchange, no job."""
    from pdftotext_spark.operators.materialize import spread

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many")
    spark.range(400).repartition(par).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= par
    out, jobs = _jobs_of(spark, lambda: spread(df, "id"))
    assert out is df
    assert jobs == []
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_spread_fans_a_single_split_scan_out_without_a_job(spark):
    """A one-file scan is repartitioned to defaultParallelism, and
    deciding so launches no job."""
    from pdftotext_spark.operators.materialize import spread

    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert df.rdd.getNumPartitions() < par
    out, jobs = _jobs_of(spark, lambda: spread(df))
    assert jobs == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert f"Exchange RoundRobinPartitioning({par})" in plan
    assert out.count() == df.count()
