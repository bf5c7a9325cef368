"""The Spark↔core boundary: every per-row payload stage runs through
:func:`map_rows`.

The reference handles each document on its own and resets all state
per ``__load`` (PdfToText.php:1632–1668), so every stage that turns a
payload into rows has one shape: ship the package, select the key and
argument columns (so Catalyst prunes the scan to exactly those), and,
per Arrow batch inside one ``mapInPandas`` body, call a *row function*
on each source row's arguments. A row function returns a list of value
tuples — zero, one or many output rows per source row — and the body
carries the source row's keys onto each of them. Only the row
functions differ between stages: :func:`turn_row` (one extraction
result per turn), :func:`page_rows`, :func:`fragment_rows`, and the
image, form and roundtrip rows in their own modules.

Why ``mapInPandas`` and not a scalar ``pandas_udf``: the output is
multi-column and may have any number of rows per input row, and the
per-batch trace line needs the batch boundary.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from pdftotext_spark.core.dispatch import extract_payload
from pdftotext_spark.core.document import ExtractOptions

# Output schema of the extraction stage. Keeps the transcript key
# columns (pass-through) and appends extraction results + metrics.
EXTRACT_RESULT_FIELDS = [
    T.StructField("extracted_text", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_images", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
    T.StructField("payload_kind", T.StringType()),
    T.StructField("extract_us", T.LongType()),
]

PASSTHROUGH_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
]

EXTRACT_SCHEMA = T.StructType(PASSTHROUGH_FIELDS + EXTRACT_RESULT_FIELDS)

FRAGMENT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("font_height", T.DoubleType()),
        T.StructField("font", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("page_text", T.StringType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
    ]
)

_FRAGMENT_OPTIONS = ExtractOptions(layout=True, want_fragments=True)
_NULLABLE_INT = {T.IntegerType: "Int32", T.LongType: "Int64"}


def map_rows(
    df,
    keys: list[str],
    args: list[str],
    schema: T.StructType,
    row_fn: Callable,
    tally: Callable | None = None,
):
    """Run ``row_fn`` over every row of ``df`` in one ``mapInPandas``
    stage. ``schema`` lists the ``keys`` first, then the fields that
    ``row_fn(*args)``'s tuples fill, in order. ``tally``, if given, is
    called inside the task with each output frame."""
    from pdftotext_spark.sources.shipping import ship_package

    ship_package(df.sparkSession)

    def body(batches):
        return map_rows_body(batches, keys, args, schema, row_fn, tally)

    # the plan's MapInPandas node names the stage by its row function
    body.__name__ = getattr(row_fn, "func", row_fn).__name__
    return df.select(*dict.fromkeys([*keys, *args])).mapInPandas(body, schema)


def map_rows_body(
    batches: Iterator[pd.DataFrame],
    keys: list[str],
    args: list[str],
    schema: T.StructType,
    row_fn: Callable,
    tally: Callable | None = None,
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body of :func:`map_rows`.

    Output row ``j`` carries the keys of the source row that produced
    it, taken by source-row index, so key dtypes pass through as they
    arrived (``turn_idx`` int32, ``ts`` datetime64).

    Set ``SPARK_GRAFT_TRACE_DIR`` (on the executors, e.g. via
    ``spark.executorEnv.*``; in local mode plain env works) to append
    per-batch timing lines ``{pid, rows, arrow_read_us, parse_us,
    frame_build_us, emit_gap_us}``, one file per Python worker: where a
    task's wall time goes (Arrow ingest vs row functions vs result
    construction vs post-yield serialization). A task's wall time also
    includes PySpark's worker set-up before the first batch (reading
    the task, unpickling this function, refreshing import caches),
    which no ``parse_us`` covers; ``shipping.install_zip_guard`` keeps
    its import-cache part near zero.
    """
    # integer fields take the nullable dtype of their width: a plain
    # list with a None in it becomes float64, which rounds a 64-bit
    # value (a phash) to 53 bits
    values = [(f.name, _NULLABLE_INT.get(type(f.dataType))) for f in schema.fields[len(keys):]]
    trace_dir = os.environ.get("SPARK_GRAFT_TRACE_DIR")
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
    it = iter(batches)
    last_yield_ns = None
    while True:
        t_read0 = time.perf_counter_ns()
        try:
            pdf = next(it)
        except StopIteration:
            return
        t_read1 = time.perf_counter_ns()
        counts = []
        rows: list[tuple] = []
        for arg_values in zip(*(pdf[a].to_numpy() for a in args)):
            out = row_fn(*arg_values)
            counts.append(len(out))
            rows.extend(out)
        t_parse1 = time.perf_counter_ns()
        idx = np.repeat(np.arange(len(pdf)), counts)
        frame = {k: pdf[k].array.take(idx) for k in keys}
        columns = list(zip(*rows)) or [()] * len(values)
        frame.update(
            (name, pd.array(c, dtype=dtype) if dtype else list(c))
            for (name, dtype), c in zip(values, columns)
        )
        out_df = pd.DataFrame(frame)
        if tally is not None:
            tally(out_df)
        t_build1 = time.perf_counter_ns()
        if trace_dir:
            line = {
                "pid": os.getpid(),
                "rows": len(pdf),
                "arrow_read_us": (t_read1 - t_read0) // 1000,
                "parse_us": (t_parse1 - t_read1) // 1000,
                "frame_build_us": (t_build1 - t_parse1) // 1000,
                "emit_gap_us": (
                    (t_read0 - last_yield_ns) // 1000 if last_yield_ns is not None else None
                ),
            }
            with open(f"{trace_dir}/map_rows_{os.getpid()}.jsonl", "a") as f:
                f.write(json.dumps(line) + "\n")
        last_yield_ns = time.perf_counter_ns()
        yield out_df


def turn_row(options: ExtractOptions | None, text: str | None) -> list[tuple]:
    """Row function of ``plans.pipeline.extract_turns``: one
    :data:`EXTRACT_RESULT_FIELDS` tuple per turn, ``extract_us`` timing
    the core call alone."""
    t0 = time.perf_counter_ns()
    res = extract_payload(text or "", options)
    elapsed = (time.perf_counter_ns() - t0) // 1000
    return [(res.text, res.n_pages, res.n_images, res.decode_failures, res.kind, elapsed)]


def page_rows(text: str | None) -> list[tuple]:
    """One row per extracted page with its char-offset span in the
    joined text (X3/X6 support: ``Pages[]`` + ``PageLocations``,
    PdfToText.php:1097, 2035–2047)."""
    res = extract_payload(text or "")
    return [
        (page_no, page_text, start, end)
        for page_no, (page_text, (start, end)) in enumerate(
            zip(res.pages, res.page_offsets), start=1
        )
    ]


def fragment_rows(text: str | None) -> list[tuple]:
    """The exploded *fragments* table (FIXTURES.md §4) for
    layout/capture operators: one row per positioned text fragment."""
    res = extract_payload(text or "", _FRAGMENT_OPTIONS)
    return [
        (f.page, f.seq, f.x, f.y, f.width, f.font_height, f.font, f.text)
        for f in res.fragments
    ]
