"""Arrow-vectorized extraction UDFs — the Spark↔core boundary.

Design (SURVEY.md §3.1 "our engine" trace): everything from object
scan to page assembly happens inside ``mapInPandas`` per Arrow batch —
zero per-row Python *at the Spark plan level* (the per-payload loop
lives inside the batch function, exactly like the reference's
per-document loop, but batched through Arrow so the JVM↔Python
transfer is columnar and amortized).

Why ``mapInPandas`` and not a scalar ``pandas_udf``: the output is a
multi-column struct + we want per-batch metrics side outputs and the
freedom to drop/add columns without nested-struct assembly overhead.
Catalyst still prunes upstream columns to exactly what we read.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

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


def extract_batches(
    batches: Iterator[pd.DataFrame], options: ExtractOptions | None = None
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: one extraction pass per Arrow batch.

    Per-payload state (object dict, font table, cmaps, page map) is
    transient inside :func:`extract_payload` — no cross-document
    state, matching the reference's per-``__load`` reset
    (PdfToText.php:1632–1668), which is what makes this
    embarrassingly parallel.

    Set ``SPARK_GRAFT_TRACE_DIR`` (on the executors, e.g. via
    ``spark.executorEnv.*``; in local mode plain env works) to append
    per-batch timing lines ``{pid, rows, arrow_read_us, parse_us,
    frame_build_us, emit_gap_us}`` — the floor-instrumentation view of
    where a task's wall time goes (Arrow ingest vs Python parse vs
    result construction vs post-yield serialization). A task's wall
    time also includes PySpark's worker set-up before the first batch
    (reading the task, unpickling this function, refreshing import
    caches), which no ``parse_us`` covers; ``shipping.install_zip_guard``
    keeps its import-cache part near zero.
    """
    import os

    trace_dir = os.environ.get("SPARK_GRAFT_TRACE_DIR")
    trace_f = None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        trace_f = open(f"{trace_dir}/extract_trace_{os.getpid()}.jsonl", "a")

    opts = options or ExtractOptions()
    it = iter(batches)
    last_yield_ns = None
    while True:
        t_read0 = time.perf_counter_ns()
        try:
            pdf = next(it)
        except StopIteration:
            break
        t_read1 = time.perf_counter_ns()
        n = len(pdf)
        texts: list[str] = [""] * n
        n_pages = [0] * n
        n_images = [0] * n
        failures = [0] * n
        kinds: list[str] = [""] * n
        elapsed = [0] * n
        payloads = pdf["text"].to_numpy()
        for i in range(n):
            t0 = time.perf_counter_ns()
            res = extract_payload(payloads[i] or "", opts)
            texts[i] = res.text
            n_pages[i] = res.n_pages
            n_images[i] = res.n_images
            failures[i] = res.decode_failures
            kinds[i] = res.kind
            elapsed[i] = (time.perf_counter_ns() - t0) // 1000
        t_parse1 = time.perf_counter_ns()
        out = pd.DataFrame(
            {
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"],
                "role": pdf["role"],
                "tool": pdf["tool"],
                "ts": pdf["ts"],
                "extracted_text": texts,
                "n_pages": n_pages,
                "n_images": n_images,
                "decode_failures": failures,
                "payload_kind": kinds,
                "extract_us": elapsed,
            }
        )
        t_build1 = time.perf_counter_ns()
        if trace_f is not None:
            import json as _json

            trace_f.write(
                _json.dumps(
                    {
                        "pid": os.getpid(),
                        "rows": n,
                        "arrow_read_us": (t_read1 - t_read0) // 1000,
                        "parse_us": (t_parse1 - t_read1) // 1000,
                        "frame_build_us": (t_build1 - t_parse1) // 1000,
                        "emit_gap_us": (
                            (t_read0 - last_yield_ns) // 1000
                            if last_yield_ns is not None
                            else None
                        ),
                    }
                )
                + "\n"
            )
            trace_f.flush()
        last_yield_ns = time.perf_counter_ns()
        yield out
    if trace_f is not None:
        trace_f.close()


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


def page_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body emitting one row per extracted page with
    its char-offset span in the joined text (X3/X6 support:
    ``Pages[]`` + ``PageLocations``, PdfToText.php:1097, 2035–2047)."""
    from pdftotext_spark.core.dispatch import extract_payload

    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in PAGES_SCHEMA.fields}
        for conv_id, turn_idx, payload in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"]
        ):
            res = extract_payload(payload or "")
            for page_no, (page_text, (start, end)) in enumerate(
                zip(res.pages, res.page_offsets), start=1
            ):
                rows["conv_id"].append(conv_id)
                rows["turn_idx"].append(int(turn_idx))
                rows["page"].append(page_no)
                rows["page_text"].append(page_text)
                rows["start_offset"].append(start)
                rows["end_offset"].append(end)
        yield pd.DataFrame(rows)


def fragment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body emitting the exploded *fragments* table
    (FIXTURES.md §4) for layout/capture operators — one output row per
    positioned text fragment."""
    opts = ExtractOptions(layout=True, want_fragments=True)
    for pdf in batches:
        rows: dict[str, list] = {
            "conv_id": [], "turn_idx": [], "page": [], "seq": [],
            "x": [], "y": [], "width": [], "font_height": [],
            "font": [], "text": [],
        }
        for conv_id, turn_idx, payload in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"]
        ):
            res = extract_payload(payload or "", opts)
            for f in res.fragments:
                rows["conv_id"].append(conv_id)
                rows["turn_idx"].append(int(turn_idx))
                rows["page"].append(f.page)
                rows["seq"].append(f.seq)
                rows["x"].append(f.x)
                rows["y"].append(f.y)
                rows["width"].append(f.width)
                rows["font_height"].append(f.font_height)
                rows["font"].append(f.font)
                rows["text"].append(f.text)
        yield pd.DataFrame(rows)
