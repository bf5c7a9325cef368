#!/usr/bin/env python
"""Digest the driver contract; diff the output of two checkouts.

No arguments: a ``sha256(key + "\\0" + oracle_sql)`` line per key
(``<none>``: no oracle), sorted, then the counts; starts no Spark.
``--sf DIR QUERY...``: per query, the sha256 of its sorted rows over DIR
on local[4] (``perfbench.workloads.rows_digest``) and of its pre-collect
executed plan, attribute refs (name and id), plan ids and Project column
lists masked: same rows, same plan shape; then the number of Spark
jobs its build plus collect launch, counted per job group through
``statusTracker``.
"""

import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402

keys, oracles = entry.queries(), entry.oracle_sql()
if sys.argv[1:2] == ["--sf"]:
    from pyspark.sql import SparkSession

    from pdftotext_spark.plans.pipeline import session_confs
    from perfbench.workloads import rows_digest
    confs = {**session_confs(), "spark.ui.enabled": "false"}
    spark = SparkSession.builder.master("local[4]").config(map=confs).getOrCreate()
    sc = spark.sparkContext
    for name in sys.argv[3:]:
        group = f"registry-digest:{name}"
        sc.setJobGroup(group, name)
        df = keys[name](spark, sys.argv[2])
        plan = re.sub(r"\w*#\d+|plan_id=\d+", "#", df._jdf.queryExecution().executedPlan().toString())
        plan = re.sub(r"Project \[[^\n]*\]", "Project [...]", plan)
        print(rows_digest(df.columns, df.collect()), name, "rows")
        print(hashlib.sha256(plan.encode()).hexdigest(), name, "plan")
        print(len(sc.statusTracker().getJobIdsForGroup(group)), name, "jobs")
    sys.exit(0)
for key in sorted(keys):
    blob = key + "\0" + oracles.get(key, "<none>")
    print(hashlib.sha256(blob.encode()).hexdigest(), key)
print(f"keys {len(keys)}")
print(f"oracles {len(oracles)}")
