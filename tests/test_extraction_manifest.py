"""The manifest ``run_extraction`` counts inside its extraction write:
equal to ``metrics_manifest`` over the run's committed rows, counted
once under a task retry, kept in the write's result stage, and built
without a job that re-reads committed files."""

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pdftotext_spark.plans.pipeline import (
    COMMITTED_SCHEMA,
    PartitionSums,
    lineage_increment,
    metrics_manifest,
    read_committed,
    resume_anti_join,
    run_extraction,
)

pytestmark = pytest.mark.spark

REPO = Path(__file__).resolve().parent.parent


def _split_input(spark, src, out_dir, n_files, where=None):
    """``src`` rewritten as ``n_files`` parquet files, so the default
    scan splits give at least that many extraction tasks."""
    df = spark.read.parquet(src)
    if where is not None:
        df = df.filter(where)
    df.repartition(n_files).write.parquet(out_dir)
    return out_dir


def _manifest_rows(manifest):
    return [r.asDict() for r in manifest.drop("committed_at").orderBy("partition_id").collect()]


def _assert_manifest_is_oracle(spark, out_dir, m_dir, run_id):
    """``run_extraction``'s manifest rows for ``run_id`` equal
    ``metrics_manifest`` over that run's committed rows on every
    column but ``committed_at``; returns the rows."""
    got = spark.read.parquet(m_dir).filter(F.col("run_id") == run_id)
    committed = spark.read.schema(COMMITTED_SCHEMA).parquet(out_dir)
    want = metrics_manifest(committed.filter(F.col("run_id") == run_id).drop("run_id"), run_id)
    assert got.schema.simpleString() == want.schema.simpleString()
    rows = _manifest_rows(got)
    assert rows == _manifest_rows(want)
    return rows


@pytest.mark.parametrize("n_partitions", [None, 7])
def test_manifest_equals_metrics_manifest(spark, transcripts_dir, tmp_path, n_partitions):
    src = _split_input(spark, f"{transcripts_dir}/transcripts.parquet", str(tmp_path / "in"), 3)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    run_extraction(spark, src, out_dir, m_dir, run_id="r1", n_partitions=n_partitions)
    rows = _assert_manifest_is_oracle(spark, out_dir, m_dir, "r1")
    assert len(rows) == (n_partitions or 3)
    assert sum(r["turns_parsed"] for r in rows) == 200


def test_resumed_manifest_equals_metrics_manifest(spark, transcripts_dir, tmp_path):
    full = f"{transcripts_dir}/transcripts.parquet"
    first = _split_input(spark, full, str(tmp_path / "first"), 2, F.col("turn_idx") % 3 == 0)
    src = _split_input(spark, full, str(tmp_path / "in"), 3)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    run_extraction(spark, first, out_dir, m_dir, run_id="r1")
    n_first = spark.read.parquet(first).count()
    run_extraction(spark, src, out_dir, m_dir, run_id="r2")
    r1 = _assert_manifest_is_oracle(spark, out_dir, m_dir, "r1")
    r2 = _assert_manifest_is_oracle(spark, out_dir, m_dir, "r2")
    assert sum(r["turns_parsed"] for r in r1) == n_first
    assert sum(r["turns_parsed"] for r in r2) == 200 - n_first


def test_run_extraction_drops_its_accumulator(spark, transcripts_dir, tmp_path):
    """Each run's ``PartitionSums`` leaves PySpark's driver-side
    accumulator registry once its manifest is written, so the registry
    does not grow across runs, and the manifests still count every
    turn."""
    from pyspark.accumulators import _accumulatorRegistry

    src = f"{transcripts_dir}/transcripts.parquet"
    before = dict(_accumulatorRegistry)
    for run in ("r1", "r2"):
        run_extraction(spark, src, str(tmp_path / run), str(tmp_path / f"m{run}"), run_id=run)
        assert _accumulatorRegistry == before
        rows = _assert_manifest_is_oracle(spark, str(tmp_path / run), str(tmp_path / f"m{run}"), run)
        assert sum(r["turns_parsed"] for r in rows) == 200


_RETRY_SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from pdftotext_spark.functions.extract import turn_row
from pdftotext_spark.plans import pipeline

work = {work!r}
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    .getOrCreate()
)
spark.read.parquet({src!r}).repartition(3).write.parquet(work + "/in")


def flaky_turn_row(options, text, seen=[0]):
    # partition 0's first attempt fails after its first batches were
    # extracted and tallied
    ctx = TaskContext.get()
    seen[0] += 1
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and seen[0] > 20:
        open(work + "/failed", "w").close()
        raise RuntimeError("injected task failure")
    return turn_row(options, text)


pipeline.turn_row = flaky_turn_row
pipeline.run_extraction(spark, work + "/in", work + "/out", work + "/m", run_id="r1")
got = spark.read.parquet(work + "/m").drop("committed_at", "run_id")
committed = spark.read.parquet(work + "/out").drop("run_id")
want = pipeline.metrics_manifest(committed, "r1").drop("committed_at", "run_id")
print(json.dumps({{
    "failed": os.path.exists(work + "/failed"),
    "got": [r.asDict() for r in got.orderBy("partition_id").collect()],
    "want": [r.asDict() for r in want.orderBy("partition_id").collect()],
    "committed": committed.count(),
}}))
"""


def test_manifest_counts_a_retried_task_once(transcripts_dir, tmp_path):
    """One extraction task fails on its first attempt and succeeds on
    the second (``local[2,2]``: two tries per task); the manifest
    counts its turns once."""
    script = tmp_path / "retry.py"
    script.write_text(
        _RETRY_SCRIPT.format(
            repo=str(REPO), work=str(tmp_path), src=f"{transcripts_dir}/transcripts.parquet"
        )
    )
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=480, cwd=str(tmp_path)
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["failed"]
    assert res["committed"] == 200
    assert res["got"] == res["want"]
    assert sum(r["turns_parsed"] for r in res["got"]) == 200


def _exchanges_above_map_in_pandas(df):
    """Exchange nodes between the plan's root and its MapInPandas:
    the pre-execution executed plan lists a node's ancestors above it."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    top = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    return [line for line in lines[:top] if "Exchange" in line]


@pytest.mark.parametrize("n_partitions", [None, 4])
def test_write_plan_keeps_extraction_in_the_result_stage(spark, transcripts_dir, tmp_path, n_partitions):
    """A shuffle-map stage re-merges its accumulator updates when it is
    resubmitted, so the write plan may hold no Exchange above the
    extraction; the checker itself sees a repartition put after it."""
    src = f"{transcripts_dir}/transcripts.parquet"
    out_dir = str(tmp_path / "out")
    run_extraction(spark, src, out_dir, run_id="r0", resume=False)
    committed = read_committed(spark, out_dir, COMMITTED_SCHEMA)
    transcripts = resume_anti_join(spark.read.parquet(src), committed)
    counter = spark.sparkContext.accumulator({}, PartitionSums())
    write = lineage_increment(transcripts, "r1", n_partitions=n_partitions, counter=counter)
    assert _exchanges_above_map_in_pandas(write) == []
    assert _exchanges_above_map_in_pandas(write.repartition(3)) != []


def test_resume_job_count_does_not_follow_history(spark, transcripts_dir, tmp_path):
    """A resume into an output holding 3 earlier runs launches at most
    4 jobs (input schema inference, committed-key scan, write, manifest
    write), and the manifest write scans no committed file."""
    full = f"{transcripts_dir}/transcripts.parquet"
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    for k in range(3):
        part = _split_input(spark, full, str(tmp_path / f"e{k}"), 2, F.col("turn_idx") % 4 == k)
        run_extraction(spark, part, out_dir, m_dir, run_id=f"e{k}")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("resume-jobs", "resume into 3 earlier runs")
    try:
        run_extraction(spark, full, out_dir, m_dir, run_id="r")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sorted(tracker.getJobIdsForGroup("resume-jobs"))
    assert 3 <= len(jobs) <= 4, jobs
    manifest_stages = tracker.getJobInfo(jobs[-1]).stageIds
    assert [tracker.getStageInfo(s).numTasks for s in manifest_stages] == [1]
    rows = _assert_manifest_is_oracle(spark, out_dir, m_dir, "r")
    assert sum(r["turns_parsed"] for r in rows) == spark.read.parquet(full).filter(
        F.col("turn_idx") % 4 == 3
    ).count()
