"""Extraction exercised as a driver-checkable query: wrap each
document's text into a synthetic PDF (three builder variants cycling
by doc_id), extract it back through the full core pipeline inside one
``mapInPandas`` stage, and report per-source roundtrip equality.

Because the goldens hold *by construction* (we emit the content
streams; SURVEY.md §5.2), the correct result is
``n_roundtrip_equal == n_docs`` for every source — which is exactly
what the DuckDB oracle states. A miscount in any core stage (filters,
object scan, ObjStm, cmaps, tokenizer, interpreter, assembly) breaks
the hash match, so this one query gates the whole §2 extraction
inventory through the driver's oracle harness.
"""

from __future__ import annotations

import base64
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdftotext_spark.core.dispatch import extract_payload
from pdftotext_spark.core.document import ExtractOptions
from pdftotext_spark.functions.extract import map_rows
from pdftotext_spark.sources import pdfbuilder as pb

_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("ok", T.IntegerType()),
    ]
)


def _wrap_payload(doc_id: int, text: str) -> str:
    """Deterministic payload variant per doc: uncompressed ASCII PDF,
    Flate-compressed base64 PDF, ObjStm-packed base64 PDF, or an
    Identity-H Adobe-Japan1 CID font with no /ToUnicode (the CJK
    ordering-table fallback path, core/cjk_cid.py)."""
    variant = doc_id % 4
    if variant == 0:
        return pb.simple_pdf([[text]]).decode("latin-1")
    if variant == 1:
        pdf = pb.simple_pdf([[text]], stream_filter="FlateDecode")
    elif variant == 2:
        pdf, _ = pb.objstm_pdf(text)
    else:
        # printable-ASCII text rides the Japan1 proportional-Latin
        # CIDs; anything else falls back to the plain builder
        if all(0x20 <= ord(c) <= 0x7E for c in text):
            pdf, _ = pb.identity_h_japan1_pdf(text)
        else:
            pdf = pb.simple_pdf([[text]], stream_filter="FlateDecode")
    return "%B64%" + base64.b64encode(pdf).decode("ascii")


def _roundtrip_row(options: ExtractOptions, doc_id: int, text: str) -> list[tuple]:
    res = extract_payload(_wrap_payload(int(doc_id), text), options)
    return [(1 if res.text == text and res.decode_failures == 0 else 0,)]


def _roundtrip_query(spark: SparkSession, sf_dir: str, layout: bool) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rt = map_rows(
        docs,
        ["doc_id", "source"],
        ["doc_id", "text"],
        _ROUNDTRIP_SCHEMA,
        partial(_roundtrip_row, ExtractOptions(layout=layout)),
    )
    return rt.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ok").cast("long").alias("n_roundtrip_equal"),
    )


def pdf_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-mode extraction gated through the oracle."""
    return _roundtrip_query(spark, sf_dir, layout=False)


def pdf_layout_roundtrip_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-mode (fragments → line assembly) gated through the same
    oracle — the independent T6/L2–L4 implementation must reproduce
    the identical text."""
    return _roundtrip_query(spark, sf_dir, layout=True)


# The oracle asserts perfect roundtrip: any extraction defect breaks
# the value-hash match on n_roundtrip_equal.
PDF_ROUNDTRIP_BY_SOURCE_SQL = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_roundtrip_equal
FROM documents GROUP BY source
"""
