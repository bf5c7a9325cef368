"""Search / page-attribution API (SURVEY.md §2.8 X6) — the reference's
``text_strpos`` / ``document_strpos`` / ``text_match`` /
``document_match`` / ``GetPageFromOffset`` family
(PdfToText.php:2217–2435) as DataFrame expressions over the extracted
pages table (:data:`pdftotext_spark.functions.extract.PAGES_SCHEMA`).

All built-in expressions (whole-stage codegen): occurrence offsets via
``sequence``+``filter`` higher-order functions, regex matches via
``regexp_extract_all``, grouped page attribution via ordinary
groupBy — each one shuffle at most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_pages(transcripts: DataFrame) -> DataFrame:
    """Per-page extraction table (one row per (turn, page))."""
    from pdftotext_spark.functions.extract import PAGES_SCHEMA, map_rows, page_rows

    return map_rows(transcripts, ["conv_id", "turn_idx"], ["text"], PAGES_SCHEMA, page_rows)


def text_strpos(pages: DataFrame, needle: str) -> DataFrame:
    """All 1-based offsets of ``needle`` per page (text_strpos,
    PdfToText.php:2258–2301). Offsets are page-local; add
    ``start_offset`` for document-global positions."""
    n = len(needle)
    lit = needle.replace("\\", "\\\\").replace("'", "\\'")
    offsets = F.expr(
        f"filter(transform(sequence(1, greatest(length(page_text) - {n - 1}, 0)),"
        f" i -> IF(substring(page_text, i, {n}) = '{lit}', i, -1)), x -> x != -1)"
    )
    return (
        pages.select(
            "conv_id",
            "turn_idx",
            "page",
            "start_offset",
            offsets.alias("offsets"),
        )
        .filter(F.size("offsets") > 0)
    )


def document_strpos(pages: DataFrame, needle: str) -> DataFrame:
    """Occurrences grouped by page with document-global offsets
    (document_strpos's group-by-page form, PdfToText.php:2313–2360)."""
    hits = text_strpos(pages, needle)
    global_offsets = F.transform(
        F.col("offsets"), lambda o: o + F.col("start_offset")
    )
    return (
        hits.select(
            "conv_id",
            "turn_idx",
            "page",
            global_offsets.alias("offsets"),
            F.size("offsets").cast("long").alias("n_hits"),
        )
    )


def text_match(pages: DataFrame, pattern: str) -> DataFrame:
    """Regex matches with page annotation (text_match/document_match,
    PdfToText.php:2370–2435): one row per match."""
    return (
        pages.select(
            "conv_id",
            "turn_idx",
            "page",
            F.explode(
                F.expr(f"regexp_extract_all(page_text, '{pattern}', 0)")
            ).alias("match"),
        )
    )


def page_from_offset(pages: DataFrame, offset: int) -> DataFrame:
    """Which page contains a document-global char offset
    (GetPageFromOffset, PdfToText.php:2217–2247)."""
    return pages.filter(
        (F.col("start_offset") <= offset) & (F.col("end_offset") >= offset)
    ).select("conv_id", "turn_idx", "page")
