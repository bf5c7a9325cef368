#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per invocation on
``local[4]``, measured in a closed loop for ``--seconds``.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. The exit code is 0 only when every output matched its
reference. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"
CORES = 4
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "turns_per_s": "1/s",
    "payload_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    from perfbench import inputs, tracing

    units = {name: "s" for name in tracing.CORE_METRICS}
    units["core.filters.bytes_out"] = "bytes"
    units["core.pages"] = "count"
    units.update({f"core.payloads.{k}": "count" for k in tracing.PAYLOAD_KINDS})
    units.update({name: ("s" if name.endswith("_s") else "count") for name in tracing.FUNCTIONS_METRICS})
    units.update(
        {
            "plans.run_extraction_s": "s",
            "plans.assemble_s": "s",
            "plans.manifest_s": "s",
            "plans.antijoin_shuffle_mb": "MB",
            "plans.assembly_shuffle_mb": "MB",
            "plans.output_mb": "MB",
        }
    )
    for q in inputs.CURATE_QUERIES + ("",):
        prefix = f"operators.{q}." if q else "operators."
        units.update({prefix + "build_s": "s", prefix + "collect_s": "s", prefix + "jobs": "count"})
    units.update(
        {
            name: ("s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count")
            for name in tracing.SPARK_METRICS
        }
    )
    units["spark.task_max_over_median"] = "ratio"
    units["traced.run_s"] = "s"
    return units


def _sandbox(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and ignore tuning variables that would change the measured
    program."""
    for sub in ("tmp", "spark-local", "events", "batch-trace"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher included
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key.startswith("PYSPARK_GATEWAY_"):
            del os.environ[key]
    os.chdir(work)


def start_spark(work: Path, trace: bool):
    from pyspark.sql import SparkSession

    from pdftotext_spark.plans.pipeline import session_confs

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    for k, v in session_confs().items():
        b = b.config(k, v)
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", (work / "events").as_uri())
            .config("spark.executorEnv.SPARK_GRAFT_TRACE_DIR", str(work / "batch-trace"))
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median(rows: list[dict], key: str) -> float:
    return statistics.median(r.get(key, 0.0) for r in rows)


def _op_spans(tracer) -> list[dict[str, float]]:
    """Per timed ``op`` span, in order: its duration as ``run_s`` and the
    summed durations of its direct children as ``<child name>_s``."""
    ops = {i: {"run_s": s.end - s.start} for i, s in enumerate(tracer.spans) if s.name == "op"}
    for s in tracer.spans:
        if s.parent in ops:
            key = s.name + "_s"
            ops[s.parent][key] = ops[s.parent].get(key, 0.0) + s.end - s.start
    return list(ops.values())


def measure(args, work: Path):
    """Set up, run the closed loop for ``args.seconds``, check outputs.
    Returns the metrics, the :class:`~perfbench.workloads.Checks` and the
    number of replayed payloads whose self times missed their span."""
    from perfbench import inputs, tracing, workloads

    sizes = inputs.TINY if args.tiny else inputs.Sizes()
    tracer = tracing.Tracer()
    batch_dir = work / "batch-trace"
    t0 = time.perf_counter()
    spark = start_spark(work, args.trace)
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, sizes, tracer, bool(args.trace))
        sc = spark.sparkContext
        # set-up: input generation repeated, the median kept; the session
        # start and the warm-up pass happen once
        gen_s = []
        for r in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate(work / f"input-{r}", args.seed)
            gen_s.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(work / f"input-{r - 1}")
        if args.corrupt:
            wl.corrupt()
        t = time.perf_counter()
        sc.setLocalProperty("perfbench.op", "warmup")
        wl.prepare()
        wl.reset("warmup")
        with tracer.span("warmup"):
            wl.op("warmup")
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        batch_traces = []
        n_ops = 0
        start = time.perf_counter()
        while n_ops == 0 or time.perf_counter() - start < args.seconds:
            tag = f"op{n_ops}"
            wl.reset(tag)
            sc.setLocalProperty("perfbench.op", tag)
            with tracer.span("op"):
                wl.op(tag)
            n_ops += 1
            if args.trace:
                batch_traces.append(tracing.read_batch_trace(str(batch_dir)))
                for f in batch_dir.glob("*"):
                    f.unlink()
        loop_s = time.perf_counter() - start
        t = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t
        rss = tracing.peak_rss_mb()
    finally:
        t = time.perf_counter()
        stop_spark(spark)
    ops = _op_spans(tracer)
    phases = {"session": session_s, "generate": gen_s, "warmup": warm_s, "loop": loop_s,
              "ops": [op["run_s"] for op in ops],
              "check": check_s, "stop": time.perf_counter() - t}
    print("perfbench phases: " + json.dumps(phases), file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "run_s": _median(ops, "run_s"),
            "turns_per_s": statistics.median(wl.turns / op["run_s"] for op in ops),
            "payload_mb_per_s": statistics.median(wl.payload_mb / op["run_s"] for op in ops),
            "peak_rss_mb": rss,
        }
        return metrics, checks, 0

    log = tracing.read_event_log(str(work / "events"))
    for i, op in enumerate(ops):
        tag = f"op{i}"
        jobs = log.jobs_with("perfbench.op", tag)
        op.update(log.spark_metrics(jobs))
        op.update(batch_traces[i])
        if args.workload == "ingest_mixed":
            def described(d):
                return [j for j in jobs if j.props.get("spark.job.description") == d]

            op["plans.manifest_s"] = log.job_seconds(described("plans.metrics_manifest"))
            op["plans.antijoin_shuffle_mb"] = log.totals(described("plans.run_extraction")).shuffle_write_b / 1e6
            op["plans.assembly_shuffle_mb"] = log.totals(described("plans.assemble")).shuffle_write_b / 1e6
            op["plans.output_mb"] = log.totals(jobs).output_b / 1e6
        if args.workload == "curate_queries":
            for q, res in wl.passes[i + 1].items():
                op[f"operators.{q}.jobs"] = res["jobs"]
            for k in ("build_s", "collect_s", "jobs"):
                op[f"operators.{k}"] = sum(op.get(f"operators.{q}.{k}", 0) for q in inputs.CURATE_QUERIES)
    metrics = {name: _median(ops, name) for name in _per_layer_units()}
    metrics["traced.run_s"] = _median(ops, "run_s")
    core, bad_sums = tracing.replay_core(wl.replay_payloads(), tracer)
    metrics.update(core)
    tracer.dump(str(WORK_ROOT / f"trace-{args.workload}.json"))
    return metrics, checks, bad_sums


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("ingest_mixed", "extract_longpdf", "curate_queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    p.add_argument("--corrupt", action="store_true", help="corrupt one reference, for the self-test")
    args = p.parse_args(argv)

    if not (ROOT / "pdftotext_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdftotext_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = WORK_ROOT / f"work-{args.workload}-{os.getpid()}"
    _sandbox(work)
    try:
        metrics, checks, bad_sums = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    units = _per_layer_units() if args.trace else END_TO_END
    summary = {
        "mismatch_frac": checks.mismatched / max(checks.checked, 1),
        "failed_frac": checks.failed / max(checks.attempted, 1),
        "checked": checks.checked,
        "self_time_sum_errors": bad_sums,
    }
    print("perfbench checks: " + json.dumps(summary), file=sys.stderr)
    correct = checks.mismatched == 0 and checks.failed == 0 and bad_sums == 0
    result = {
        "correct": correct,
        "attempted": max(checks.attempted, 1),
        "failed": checks.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
