"""Per-document extraction driver — the §3.1 pipeline trace as one
pure-Python function.

Pipeline (mirrors ``__load``, PdfToText.php:1614–2050):
header scan → object scan (+ObjStm splice) → trailer (/Encrypt ⇒
undecodable) → classification loop (fonts / cmaps / font maps /
images / stream decode, header-footer strip) → cmap attach → page map
→ per-page interpretation (raw or layout mode) → post-process
(de-hyphenation, page offsets) → pages joined with the page separator.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pdftotext_spark.core import filters, objects
from pdftotext_spark.core.fonts import FontTable, is_font, is_font_map
from pdftotext_spark.core.interpreter import (
    Fragment,
    assemble_fragments,
    count_statistics,
    extract_fragments,
    extract_text_raw,
)
from pdftotext_spark.core.cmaps import is_character_map
from pdftotext_spark.core.pagemap import (
    PageMap,
    is_form_xobject,
    is_image,
    is_page_header_or_footer,
)
from pdftotext_spark.core.postprocess import (
    dehyphenate,
    has_author_information,
    page_offsets,
    retrieve_metadata,
    rtl_reorder,
)

PAGE_SEPARATOR = "\n"  # reference default PageSeparator
_TEXT_OP_RE = re.compile(rb"\b(BT|Tf|Td|TJ|Tj|Tm|Do|cm)\b")
_XOBJ_DO_RE = re.compile(rb"/([A-Za-z0-9.#_+-]+)\s+Do\b")


def is_text_stream(decoded: bytes) -> bool:
    """``IsText`` (PdfToText.php:661–672)."""
    return bool(_TEXT_OP_RE.search(decoded))


_HEADER_FOOTER_SPAN_RE = re.compile(
    rb"/(?:Artifact|[A-Za-z0-9]+)\s*<<[^>]*?/(?:Top|Bottom|Header|Footer)[^>]*?>>\s*BDC.*?EMC",
    re.S,
)


def strip_header_footer_spans(decoded: bytes) -> bytes:
    """Remove ``<<…/Top|/Bottom…>> BDC … EMC`` pagination spans
    (P10, PdfToText.php:3228–3266)."""
    return _HEADER_FOOTER_SPAN_RE.sub(b" ", decoded)


@dataclass
class ExtractOptions:
    layout: bool = False  # PDFOPT_BASIC_LAYOUT analog
    no_hyphenated_words: bool = False  # PDFOPT_NO_HYPHENATED_WORDS
    ignore_headers_and_footers: bool = True  # reference default ON
    max_pages: int = 0  # >0 first N, <0 last N (P11)
    page_separator: str = PAGE_SEPARATOR
    want_fragments: bool = False
    # X5 MarkTextLike: list of (regex, start_marker, end_marker)
    markers: tuple = ()
    # M5 PDFOPT_ENHANCED_STATISTICS analog
    enhanced_statistics: bool = False
    # PDFOPT_REPEAT_SEPARATOR (T11)
    repeat_separator: bool = False
    # F13: ligature/typographic simplification toward ASCII
    # (Maps/unicode-to-ansi.map analog); off by default
    simplify_unicode: bool = False
    # per-payload soft time budget in seconds (MaxExecutionTime analog,
    # PdfToText.php:1056–1068/3399–3415). Checked between pages; on
    # breach, remaining pages are skipped and a failure is recorded —
    # never a task kill (SURVEY.md §4).
    max_seconds: float = 0.0
    # PDFOPT_IGNORE_TEXT_LEADING (PdfToText.php:1061, guard at 3822):
    # TL/TD leading values are ignored; T*/'/" advance by font size
    ignore_text_leading: bool = False
    # MaxGlobalExecutionTime analog (PdfToText.php:1190, 1515–1522):
    # absolute epoch deadline stamped at job-BUILD time (0 = off) —
    # every executor stops parsing NEW payloads once the job's global
    # wall budget is spent; skipped payloads surface as metrics, the
    # job still completes (never a task kill). Wall-clock semantics
    # are deliberate and match the reference (PHP counts from process
    # start): the budget includes scheduling/queue delay, and the
    # comparison assumes NTP-sane executor clocks — skew shifts the
    # effective budget by the skew, it never crashes the job.
    global_deadline_epoch: float = 0.0
    # image *data* extraction is opt-in, matching the reference's
    # PDFOPT_GET_IMAGE_DATA default-off (PdfToText.php:1027–1035):
    # n_images is always counted, but image streams are only inflated
    # when a consumer (carve_images) asks — the text pipeline was
    # paying full image decompression for bytes it discarded
    want_images: bool = False
    rtl: bool = True
    # F11: per-font-variant Identity-H CID→Unicode override tables,
    # {variant: (plain, alt)} — carried inside the (picklable) options
    # so driver-registered tables reach every executor process (the
    # cidmaps module registry alone is process-local)
    cid_tables: tuple = ()  # ((variant, plain_dict, alt_dict), ...)


def options_from_json(spec: dict) -> ExtractOptions:
    """Build :class:`ExtractOptions` from a JSON-friendly dict — the
    deployable job's ``--options`` carrier (scripts/run_extraction_job
    ships it through spark-submit, so every field must survive JSON).
    JSON objects key by string; CID codes are coerced back to int.
    Unknown keys raise (fail loudly at submit time, not on executors).
    """
    kw = dict(spec)
    if "cid_tables" in kw:
        kw["cid_tables"] = tuple(
            (
                variant,
                {int(k): s for k, s in (plain or {}).items()},
                {
                    int(p): {int(k): s for k, s in (sub or {}).items()}
                    for p, sub in (alt or {}).items()
                },
            )
            for variant, plain, alt in kw["cid_tables"]
        )
    if "markers" in kw:
        kw["markers"] = tuple(tuple(m) for m in kw["markers"])
    return ExtractOptions(**kw)


@dataclass
class ExtractResult:
    text: str = ""
    pages: list[str] = field(default_factory=list)
    n_pages: int = 0
    n_images: int = 0
    decode_failures: int = 0
    kind: str = "pdf"
    encrypted: bool = False
    metadata: dict[str, str] = field(default_factory=dict)
    page_offsets: list[tuple[int, int]] = field(default_factory=list)
    fragments: list[Fragment] = field(default_factory=list)
    image_bytes: list[bytes] = field(default_factory=list)
    image_dicts: list[bytes] = field(default_factory=list)  # parallel metadata
    failure_reasons: list[str] = field(default_factory=list)
    # M5 statistics (populated when options.enhanced_statistics):
    # text_size/optimized_text_size + per-operator-family counters
    # (PdfToText.php:1686–1711, 2064–2092)
    stats: dict[str, int] = field(default_factory=dict)


def extract_document(buf: bytes, options: ExtractOptions | None = None) -> ExtractResult:
    """Extract one PDF byte payload. Never raises on malformed input
    (failures become metrics, per S5 — PdfToText.php:1777–1812
    maps engine errors to typed exceptions; our per-payload contract
    is try/except → ``decode_failures``)."""
    opts = options or ExtractOptions()
    if opts.global_deadline_epoch > 0:
        import time as _time

        if _time.time() > opts.global_deadline_epoch:
            res = ExtractResult()
            res.decode_failures += 1
            res.failure_reasons.append("global time budget exceeded")
            return res
    cid_overrides = None
    if opts.cid_tables:
        # scoped per-call: materialized into this document's FontTable,
        # never the process-global cidmaps registry — reused executor
        # workers must not see another job's override tables
        from pdftotext_spark.core import cidmaps

        cid_overrides = cidmaps.build_override_map(opts.cid_tables)
    res = ExtractResult()

    pf = objects.scan(buf)  # raises NotAPdfError for non-PDF payloads
    res.decode_failures += pf.decode_failures
    res.failure_reasons.extend(pf.failure_reasons)
    if not pf.objects:
        # a %PDF header with no parseable objects is a broken payload,
        # not an empty document — surface it in the metrics
        res.decode_failures += 1
        res.failure_reasons.append("no indirect objects found")
        return res
    if pf.encrypted:
        # reference: encrypted files unsupported — Decrypt() hardcoded
        # to false (PdfToText.php:9511–9520); mark undecodable.
        res.encrypted = True
        res.decode_failures += 1
        res.failure_reasons.append("encrypted")
        return res

    fonts = FontTable(cid_overrides=cid_overrides)
    pagemap = PageMap()
    decoded: dict[int, bytes] = {}
    text_ids: list[int] = []
    header_footer_ids: set[int] = set()
    form_xobject_streams: dict[int, bytes] = {}

    # classification loop (PdfToText.php:1826–1969)
    for oid, obj in pf.objects.items():
        body = obj.dict_part
        pagemap.peek(obj)
        if has_author_information(body) and not obj.stream:
            res.metadata.update(retrieve_metadata(body, pf.objects))
        if is_image(body):
            res.n_images += 1
            if opts.want_images and obj.stream is not None:
                try:
                    res.image_bytes.append(filters.decode_stream(body, obj.stream))
                    res.image_dicts.append(body)
                except filters.DecodeError:
                    res.decode_failures += 1
                    res.failure_reasons.append(f"image {oid}")
            continue
        if obj.stream is None:
            if is_font(body):
                fonts.add_font(oid, body)
            elif is_character_map(body):
                decoded[oid] = body
            elif is_font_map(body):
                fonts.add_alias_map(body)
            continue
        if not obj.stream.strip():
            continue  # empty-stream skip (PdfToText.php:1884–1893)
        try:
            data = filters.decode_stream(body, obj.stream)
        except filters.DecodeError as exc:
            res.decode_failures += 1
            res.failure_reasons.append(f"obj {oid}: {exc}")
            continue
        decoded[oid] = data
        if is_font(body):
            fonts.add_font(oid, body)
        if is_page_header_or_footer(body):
            header_footer_ids.add(oid)
        if is_form_xobject(body):
            form_xobject_streams[oid] = data
        if is_text_stream(data):
            text_ids.append(oid)

    fonts.attach_cmaps(decoded)
    pagemap.map_objects(pf.objects, [i for i in text_ids if i not in header_footer_ids])

    # per-page extraction (PdfToText.php:1991–2028)
    page_numbers = sorted(pagemap.pages)
    if opts.max_pages > 0:
        page_numbers = page_numbers[: opts.max_pages]
    elif opts.max_pages < 0:
        page_numbers = page_numbers[opts.max_pages :]

    import time as _time

    deadline = _time.perf_counter() + opts.max_seconds if opts.max_seconds > 0 else None
    seq = 0
    for pno in page_numbers:
        if deadline is not None and _time.perf_counter() > deadline:
            res.decode_failures += 1
            res.failure_reasons.append(
                f"time budget exceeded after page {len(res.pages)}"
            )
            break
        pi = pagemap.pages[pno]
        fonts_added = False
        for alias, foid in pi.font_aliases.items():
            fonts.alias_map[f"{pno}:{alias}"] = foid
            fonts.alias_map.setdefault(alias, foid)
            if foid not in fonts.fonts and foid in pf.objects:
                fonts.add_font(foid, pf.objects[foid].dict_part)
                fonts_added = True
        if fonts_added:
            # re-resolve indirections only when this page introduced a
            # page-local font — attach_cmaps is idempotent but looping
            # every font on every page is measurable on many-page docs
            fonts.attach_cmaps(decoded)

        chunks: list[bytes] = []
        for cid in pi.content_ids:
            if cid in header_footer_ids and opts.ignore_headers_and_footers:
                continue
            data = decoded.get(cid)
            if data is None:
                continue
            if opts.ignore_headers_and_footers and b"BDC" in data:
                data = strip_header_footer_spans(data)
            # template inlining: /TPLx Do → splice the form XObject's
            # stream (G5, PdfToText.php:8293–8331), one level + cycle-safe
            def splice(m: re.Match[bytes], _seen=frozenset()) -> bytes:
                alias = m.group(1).decode("latin-1")
                xid = pi.xobject_aliases.get(alias)
                if xid is not None and xid in form_xobject_streams:
                    return b" " + form_xobject_streams[xid] + b" "
                return m.group(0)

            if b"Do" in data:  # gate: most streams draw no XObjects
                data = _XOBJ_DO_RE.sub(splice, data)
            chunks.append(data)
        stream = b"\n".join(chunks)
        if opts.layout or opts.want_fragments:
            frags = extract_fragments(stream, fonts, pno, seq_start=seq)
            seq += len(frags)
            if opts.markers:
                from pdftotext_spark.core.interpreter import apply_text_markers

                frags = apply_text_markers(frags, list(opts.markers))
            res.fragments.extend(frags)
            page_text = assemble_fragments(frags)
        else:
            if opts.enhanced_statistics:
                count_statistics(stream, res.stats)
            page_text = extract_text_raw(
                stream,
                fonts,
                page=pno,
                repeat_separator=opts.repeat_separator,
                ignore_text_leading=opts.ignore_text_leading,
            )
        if opts.rtl:
            page_text = rtl_reorder(page_text)
        res.pages.append(page_text)

    res.n_pages = len(res.pages)
    if opts.simplify_unicode:
        from pdftotext_spark.core.postprocess import simplify_to_ansi

        res.pages = [simplify_to_ansi(p) for p in res.pages]
    text = opts.page_separator.join(res.pages)
    if opts.no_hyphenated_words:
        text = dehyphenate(text)
    res.page_offsets = page_offsets(res.pages, opts.page_separator)
    res.text = text
    return res
