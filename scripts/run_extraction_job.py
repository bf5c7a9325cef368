#!/usr/bin/env python
"""Deployable extraction job (north_rule ship shape):

    spark-submit --py-files pdftotext_spark.zip \\
        scripts/run_extraction_job.py \\
        --input  <iceberg table | parquet path> \\
        --output <parquet/iceberg target> \\
        --metrics <metrics table path> \\
        [--run-id r1] [--no-resume] [--repartition N]

Build the zip with
``python -c "from pdftotext_spark.sources.shipping import build_package_zip; print(build_package_zip('.'))"``.
When imported as a library instead, every UDF entry point self-ships
via ``sc.addPyFile`` — the flag is still the right way to deploy.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--repartition",
        type=int,
        default=None,
        help="force a salted repartition (only for pathological file layouts; "
        "default: shuffle-free scan splits)",
    )
    ap.add_argument(
        "--options",
        default=None,
        help="ExtractOptions as inline JSON, or @path to a JSON file "
        "(fields of pdftotext_spark.core.document.ExtractOptions, e.g. "
        '\'{"layout": true, "cid_tables": [["ABCD", {"1": "A"}, {}]]}\')',
    )
    args = ap.parse_args()

    options = None
    if args.options:
        import json

        from pdftotext_spark.core.document import options_from_json

        raw = args.options
        if raw.startswith("@"):
            raw = Path(raw[1:]).read_text()
        options = options_from_json(json.loads(raw))

    from pyspark.sql import SparkSession

    from pdftotext_spark.plans.pipeline import run_extraction, session_confs

    builder = SparkSession.builder.appName("pdftotext-spark-extract")
    for k, v in session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    run_extraction(
        spark,
        args.input,
        output_path=args.output,
        metrics_path=args.metrics,
        run_id=args.run_id,
        resume=not args.no_resume,
        options=options,
        n_partitions=args.repartition,
    )
    spark.stop()


if __name__ == "__main__":
    main()
