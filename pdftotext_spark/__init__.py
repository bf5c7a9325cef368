"""pdftotext_spark — a PySpark-native extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
PHP library ``pmdunggh/pdftotext`` (``/root/reference/PdfToText.php``),
re-expressed Spark-first:

- a pure-Python, dependency-free PDF text-extraction core
  (:mod:`pdftotext_spark.core`) exercised per Arrow batch inside
  vectorized pandas UDFs — never per-row Python;
- an HTML boilerplate-stripping branch (:mod:`pdftotext_spark.html`)
  using DOM text/link-density heuristics (new work; the reference has
  no HTML path — see SURVEY.md §0);
- DataFrame-level operators (:mod:`pdftotext_spark.operators`) for
  dedup, similarity search, text analysis, sessionization and capture
  semantics, all expressed with built-in ``pyspark.sql.functions`` so
  Catalyst/Tungsten handle pushdown, pruning and codegen;
- batch and streaming pipelines (:mod:`pdftotext_spark.plans`,
  :mod:`pdftotext_spark.streaming`) over transcripts tables
  ``(conv_id, turn_idx, role, text, tool, ts)``.
"""

__version__ = "0.1.0"

import sys as _sys

# On a Spark Python worker (a task is running: unpickling a UDF imports
# this package), stop PySpark's per-task ``importlib.invalidate_caches()``
# from re-reading every unchanged zip on sys.path. The driver and
# core-only imports never reach this branch and stay pyspark-free.
if "pyspark" in _sys.modules and _sys.modules["pyspark"].TaskContext.get() is not None:
    from pdftotext_spark.sources.shipping import install_zip_guard

    install_zip_guard()
