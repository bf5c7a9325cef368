#!/usr/bin/env python
"""Time and size ``dedup.dedup_groups`` on a synthetic near-dup graph.

Labels a graph of a given edge count with the one connected-components
path (one Arrow fetch of the pair columns, union-find on the driver)
and records the wall time and the driver's peak memory.

The graph is the shape LSH banding leaves behind: many small clusters
(``--cluster`` members each, a random tree of ``cluster - 1`` edges),
ids scattered over the 2^40 id space, every pair ordered
``doc_a < doc_b``. It is written to parquet first, so the pairs reach
``dedup_groups`` as a file scan.

Each size runs in its own process, and ``py_peak_mb`` is that
process's own peak resident set (``VmHWM``, which starts afresh at
exec; ``ru_maxrss`` would carry over the peak of the process that
wrote the graph). ``jvm_hwm_mb`` is the JVM's peak resident set; in
local mode the JVM also hosts the executors, so it bounds the driver
JVM from above. One JSON line per run::

    python scripts/cc_crossover.py --edges 1000000,2000000 --out /tmp/cc
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

ID_MASK = (1 << 40) - 1
# odd, so multiplication modulo 2^40 permutes the id space
SCATTER = 0x9E3779B97F4A7C15 & ID_MASK


def write_graph(path: Path, n_edges: int, cluster: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    per = cluster - 1
    n_clusters = -(-n_edges // per)
    member = np.tile(np.arange(1, cluster), n_clusters)[:n_edges]
    base = np.repeat(np.arange(n_clusters) * cluster, per)[:n_edges]
    # member j attaches to a uniformly drawn earlier member: a random tree
    parent = (rng.random(n_edges) * member).astype(np.int64)
    a = (((base + parent).astype(object) * SCATTER) & ID_MASK).astype(np.int64)
    b = (((base + member).astype(object) * SCATTER) & ID_MASK).astype(np.int64)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"doc_a": lo, "doc_b": hi}), path / "pairs.parquet"
    )


def _hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return float("nan")


def run_one(graph: Path, cores: int) -> dict:
    from pyspark.sql import SparkSession

    from pdftotext_spark.operators import dedup
    from pdftotext_spark.plans.pipeline import session_confs

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in session_confs().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    pairs = spark.read.parquet(str(graph / "pairs.parquet"))
    n_edges = pairs.count()
    rss0 = _hwm_mb(os.getpid())
    t0 = time.perf_counter()
    labels = dedup.dedup_groups(pairs)
    n_docs = labels.count()
    wall = time.perf_counter() - t0
    rss1 = _hwm_mb(os.getpid())
    out = {
        "edges": n_edges,
        "docs": n_docs,
        "wall_s": round(wall, 2),
        "py_peak_mb": round(rss1, 1),
        "py_peak_rise_mb": round(rss1 - rss0, 1),
        "jvm_hwm_mb": round(_hwm_mb(spark.sparkContext._gateway.proc.pid), 1),
        "cores": cores,
    }
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--edges", default="1000000,2000000",
                    help="comma-separated edge counts")
    ap.add_argument("--cluster", type=int, default=6,
                    help="members per near-dup cluster")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", required=True, help="directory for the graphs")
    ap.add_argument("--one", metavar="GRAPH",
                    help=argparse.SUPPRESS)  # a single run, in-process
    args = ap.parse_args()
    if args.one:
        print(json.dumps(run_one(Path(args.one), args.cores)))
        return
    for n in (int(x) for x in args.edges.split(",")):
        graph = Path(args.out) / f"g{n}"
        write_graph(graph, n, args.cluster, args.seed)
        res = subprocess.run(
            [sys.executable, __file__, "--out", args.out,
             "--cores", str(args.cores), "--one", str(graph)],
            capture_output=True, text=True, check=True,
        )
        print(res.stdout.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    main()
