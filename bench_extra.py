#!/usr/bin/env python
"""Per-query isolation bench + plan capture (guide §1.4/§1.5/§7.2).

NOT the driver contract — ``bench.py`` is frozen for measurement; this
harness exists so optimization work can time single queries (collect,
matching bench.py methodology, or a noop sink for sink-free timing)
and dump ``.explain("formatted")`` into ``plans/r07/``.

Usage::

    python bench_extra.py q1 q2 ...            # time queries (best-of-N)
    python bench_extra.py --plans SUFFIX q ... # also write plans/r07/<q>_<SUFFIX>.txt
    python bench_extra.py --noop q ...         # noop sink instead of collect
    python bench_extra.py --all                # every registered query
    SPARK_GRAFT_BENCH_REPS=N                   # reps (default 3)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bench import build_spark  # noqa: E402

PLANS_DIR = REPO / "plans" / "r07"


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Time registered queries one at a time (best of "
        "SPARK_GRAFT_BENCH_REPS reps, default 3)."
    )
    ap.add_argument("queries", nargs="*", help="registered query names")
    ap.add_argument(
        "--plans",
        metavar="SUFFIX",
        help="also write plans/r07/<query>_<SUFFIX>.txt",
    )
    ap.add_argument(
        "--noop", action="store_true", help="noop sink instead of collect"
    )
    ap.add_argument(
        "--all", action="store_true", help="every registered query"
    )
    opts = ap.parse_intermixed_args(argv)
    if not opts.queries and not opts.all:
        ap.error("give query names or --all")
    return opts


def main() -> None:
    opts = _parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    names = list(qmap) if opts.all else opts.queries
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    for name in names:
        fn = qmap[name]
        if opts.plans is not None:
            PLANS_DIR.mkdir(parents=True, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (PLANS_DIR / f"{name}_{opts.plans}.txt").write_text(plan)
        best = float("inf")
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if opts.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            best = min(best, time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", flush=True)

    spark.stop()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
