"""Form-data extraction as a Spark stage: transcripts → one
``MapType(string, string)`` column per turn (the reference's eval'd
form classes replaced by map columns; SURVEY.md M3)."""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdftotext_spark.core.dispatch import B64_SENTINEL, decode_b64_payload
from pdftotext_spark.core.forms import extract_form_data
from pdftotext_spark.functions.extract import map_rows

FORM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("form_fields", T.MapType(T.StringType(), T.StringType())),
        T.StructField("n_fields", T.IntegerType()),
    ]
)


def _payload_bytes(payload: str) -> bytes | None:
    if payload.startswith(B64_SENTINEL):
        return decode_b64_payload(payload)
    if "%PDF-" in payload[:1024]:
        return payload.encode("latin-1", errors="replace")
    return None


def form_row(template_xml: str | None, text: str | None) -> list[tuple]:
    """Row function of :func:`extract_forms`: the turn's form-field map
    and its size."""
    buf = _payload_bytes(text or "")
    fields: dict[str, str] = {}
    if buf is not None:
        try:
            fields = extract_form_data(buf, template_xml)
        except Exception:
            fields = {}
    return [(fields, len(fields))]


def extract_forms(transcripts: DataFrame, template_xml: str | None = None) -> DataFrame:
    """Per-turn XFA form fields; turns without form data get an empty
    map (filter on ``n_fields > 0`` downstream)."""
    return map_rows(
        transcripts, ["conv_id", "turn_idx"], ["text"], FORM_SCHEMA, partial(form_row, template_xml)
    )
