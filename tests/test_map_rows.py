"""The shared per-row body (``functions.extract.map_rows_body``) driven
directly on hand-built pandas batches: no Spark session."""

import base64
import json
from functools import partial

import numpy as np
import pandas as pd

from pdftotext_spark.functions.extract import (
    EXTRACT_SCHEMA,
    FRAGMENT_SCHEMA,
    PAGES_SCHEMA,
    PASSTHROUGH_FIELDS,
    fragment_rows,
    map_rows_body,
    page_rows,
    turn_row,
)
from pdftotext_spark.operators.multimodal import IMAGE_SCHEMA, carve_image_rows
from pdftotext_spark.sources import pdfbuilder as pb

KEYS = ["conv_id", "turn_idx"]
TRACE_KEYS = {"pid", "rows", "arrow_read_us", "parse_us", "frame_build_us", "emit_gap_us"}

THREE_PAGES = pb.simple_pdf([["page one"], ["page two"], ["page three"]]).decode("latin-1")
TWO_IMAGES = "%B64%" + base64.b64encode(pb.image_pdf("pictures", n_images=2)[0]).decode()
# NULL, zero-row (plain text has no fragments or images), many-row
PAYLOADS = [None, "just plain text", THREE_PAGES, TWO_IMAGES]


def _batch(payloads=PAYLOADS, first_turn=10):
    n = len(payloads)
    return pd.DataFrame(
        {
            "conv_id": [f"c{first_turn + i}" for i in range(n)],
            "turn_idx": np.arange(first_turn, first_turn + n, dtype=np.int32),
            "role": ["user"] * n,
            "tool": [None] * n,
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "text": payloads,
        }
    )


def _run(batches, schema, row_fn, keys=KEYS):
    return list(map_rows_body(iter(batches), keys, ["text"], schema, row_fn))


def _expected_keys(batch, row_fn):
    return [
        (c, t)
        for c, t, text in zip(batch["conv_id"], batch["turn_idx"], batch["text"])
        for _ in row_fn(text)
    ]


def test_output_rows_carry_their_source_keys():
    batch = _batch()
    counts = {}
    for schema, row_fn in (
        (PAGES_SCHEMA, page_rows),
        (FRAGMENT_SCHEMA, fragment_rows),
        (IMAGE_SCHEMA, carve_image_rows),
    ):
        [out] = _run([batch], schema, row_fn)
        assert list(out.columns) == schema.fieldNames()
        assert list(zip(out["conv_id"], out["turn_idx"])) == _expected_keys(batch, row_fn)
        counts[schema] = out.groupby("conv_id").size().to_dict()
    # the NULL and plain rows give one page each, the PDF three
    assert counts[PAGES_SCHEMA] == {"c10": 1, "c11": 1, "c12": 3, "c13": 1}
    assert set(counts[FRAGMENT_SCHEMA]) == {"c12", "c13"}
    assert counts[IMAGE_SCHEMA] == {"c13": 2}
    [pages] = _run([batch], PAGES_SCHEMA, page_rows)
    c12 = pages[pages["conv_id"] == "c12"]
    assert list(c12["page"]) == [1, 2, 3]
    assert list(c12["page_text"]) == ["page one", "page two", "page three"]


def test_batch_without_output_rows_keeps_the_schema():
    [out] = _run([_batch([None, "plain"])], FRAGMENT_SCHEMA, fragment_rows)
    assert out.empty
    assert list(out.columns) == FRAGMENT_SCHEMA.fieldNames()


def test_extract_row_keeps_key_dtypes():
    batch = _batch()
    keys = [f.name for f in PASSTHROUGH_FIELDS]
    [out] = _run([batch], EXTRACT_SCHEMA, partial(turn_row, None), keys)
    assert list(out.columns) == EXTRACT_SCHEMA.fieldNames()
    for k in keys:
        assert out[k].dtype == batch[k].dtype, k
        assert out[k].equals(batch[k]), k
    assert out["turn_idx"].dtype == np.int32
    assert out["ts"].dtype == np.dtype("datetime64[ns]")
    assert list(out["payload_kind"]) == ["plain", "plain", "pdf", "pdf-b64"]
    assert out["extracted_text"][0] == ""
    assert out["extracted_text"][2] == "page one\npage two\npage three"
    assert list(out["n_pages"]) == [1, 1, 3, 1]
    assert list(out["n_images"]) == [0, 0, 0, 2]


def test_trace_line_per_batch(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TRACE_DIR", str(tmp_path))
    batches = [_batch(), _batch(["a", "b"], first_turn=20)]
    outs = _run(batches, PAGES_SCHEMA, page_rows)
    assert [len(o) for o in outs] == [6, 2]
    [trace] = tmp_path.glob("*.jsonl")
    recs = [json.loads(line) for line in trace.read_text().splitlines()]
    assert [set(r) for r in recs] == [TRACE_KEYS, TRACE_KEYS]
    assert [r["rows"] for r in recs] == [4, 2]
    assert recs[0]["emit_gap_us"] is None
    assert recs[1]["emit_gap_us"] >= 0


def test_int64_value_survives_a_null_earlier_in_the_batch():
    # the JPEG has no phash (None); the raster's 64-bit phash must reach
    # the frame exactly, not through float64
    jpeg = "%B64%" + base64.b64encode(pb.image_pdf()[0]).decode()
    raster = "%B64%" + base64.b64encode(pb.raster_pdf(16, 16)[0]).decode()
    [out] = _run([_batch([jpeg, raster])], IMAGE_SCHEMA, carve_image_rows)
    [(*_, expected)] = carve_image_rows(raster)
    assert expected == -7407774216137960602
    assert out["phash"].isna().tolist() == [True, False]
    assert int(out["phash"].iloc[1]) == expected
    assert out["phash"].dtype == "Int64"
