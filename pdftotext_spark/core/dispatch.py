"""Payload sniffing + unified extraction entry point.

A transcripts row's ``text`` column carries one of four payload kinds
(FIXTURES.md §1): an ASCII-safe PDF stored verbatim, a binary PDF
base64-wrapped behind the ``%B64%`` sentinel (SURVEY.md §7.5 — Spark
strings are UTF-8; raw Flate bytes are not), templated HTML, or plain
text. :func:`extract_payload` sniffs, routes and never raises.
"""

from __future__ import annotations

import base64
import binascii
import re
import zlib

from pdftotext_spark.core.document import (
    ExtractOptions,
    ExtractResult,
    extract_document,
)
from pdftotext_spark.core.objects import NotAPdfError
from pdftotext_spark.html import extract_main_content

B64_SENTINEL = "%B64%"
# \\ufeff: string payloads may arrive BOM-prefixed (decoded upstream
# from utf-8-sig without stripping)
_HTML_RE = re.compile(r"^[\s\ufeff]*(?:<!doctype\s+html|<html\b|<head\b|<body\b)", re.I)
_HTML_LOOSE_RE = re.compile(r"<(p|div|section|article|h[1-6]|a|span)\b", re.I)


def sniff_kind(payload: str) -> str:
    """Classify a payload: ``pdf-b64`` | ``pdf`` | ``html`` | ``plain``."""
    if payload.startswith(B64_SENTINEL):
        return "pdf-b64"
    head = payload[:1024]
    if "%PDF-" in head:
        return "pdf"
    if _looks_like_html(head):
        return "html"
    if _looks_like_deep_pdf(payload):
        return "pdf"
    return "plain"


def _looks_like_html(probe: str) -> bool:
    return bool(_HTML_RE.search(probe)) or len(_HTML_LOOSE_RE.findall(probe)) >= 2


def decode_b64_payload(payload: str) -> bytes | None:
    """The bytes behind a ``%B64%`` payload, or None when the base64
    does not decode."""
    try:
        return base64.b64decode(payload[len(B64_SENTINEL) :], validate=False)
    except (binascii.Error, ValueError):
        return None


def _single_page(text: str, kind: str) -> ExtractResult:
    res = ExtractResult(text=text, pages=[text], n_pages=1, kind=kind)
    res.page_offsets = [(0, max(len(text) - 1, 0))]
    return res


_OBJ_SPAN_RE = re.compile(r"\d+\s+\d+\s+obj\b")
_OBJ_SPAN_RE_B = re.compile(rb"\d+\s+\d+\s+obj\b")


def _looks_like_deep_pdf(payload) -> bool:
    """Deep-header probe: objects.find_header tolerates arbitrary
    leading junk (PdfToText.php:1745–1760 scans, never seeks offset
    0), so a junk-prefixed PDF must not fall through to plain/HTML —
    but a conversational payload that merely *mentions* '%PDF-' must
    not be eaten by the PDF parser either (that would silently destroy
    the turn's text). Require the corroborating markers a parseable
    PDF always has: an ``N G obj`` span header plus ``endobj``; a
    quoting conversation rarely carries all three, and the deep route
    additionally falls back to plain when its parse yields nothing
    (see :func:`extract_payload`)."""
    if isinstance(payload, bytes):
        return (
            b"%PDF-" in payload
            and b"endobj" in payload
            and _OBJ_SPAN_RE_B.search(payload) is not None
        )
    return (
        "%PDF-" in payload
        and "endobj" in payload
        and _OBJ_SPAN_RE.search(payload) is not None
    )


def extract_payload(
    payload: str, options: ExtractOptions | None = None
) -> ExtractResult:
    """Extract one turn's payload; failures become metrics, not raises."""
    kind = sniff_kind(payload)
    if kind == "pdf-b64":
        buf = decode_b64_payload(payload)
        if buf is None:
            res = ExtractResult(kind="pdf-b64", decode_failures=1)
            res.failure_reasons.append("bad base64")
            return res
        # gzip-wrapped payloads (e.g. WARC-style stored HTML) are
        # transparently unwrapped before content routing
        was_gzip = buf[:2] == b"\x1f\x8b"
        if was_gzip:
            import gzip

            try:
                buf = gzip.decompress(buf)
            except (OSError, EOFError, zlib.error):
                res = ExtractResult(kind="pdf-b64", decode_failures=1)
                res.failure_reasons.append("bad gzip payload")
                return res
        # route by decoded CONTENT: binary payloads may wrap HTML in a
        # non-UTF-8 charset (BOMs, UTF-16, cp1252, ...) just as well as
        # a PDF — charset-sniff a probe before deciding
        if b"%PDF-" not in buf[:1024]:
            from pdftotext_spark.html import decode_html_bytes

            probe = decode_html_bytes(buf[:4096]).lstrip("\ufeff \t\r\n")
            if _looks_like_html(probe):
                text = extract_main_content(
                    decode_html_bytes(buf).lstrip("\ufeff")
                )
                return _single_page(text, "html")
            if _looks_like_deep_pdf(buf):
                # deep header (>1 KiB of leading junk): route to the
                # PDF parser \u2014 find_header scans the whole buffer
                res = _extract_pdf(buf, options)
                res.kind = "pdf-b64"
                return _maybe_plain_fallback_bytes(buf, res)
            if was_gzip:
                # a valid gzip member that is neither PDF nor HTML was
                # deliberately wrapped text — emit it as plain, not as
                # a PDF decode failure
                return _single_page(decode_html_bytes(buf).lstrip("\ufeff"), "plain")
        res = _extract_pdf(buf, options)
        res.kind = "pdf-b64"
        return _maybe_plain_fallback_bytes(buf, res)
    if kind == "pdf":
        res = _extract_pdf(payload.encode("latin-1", errors="replace"), options)
        if (
            res.n_pages == 0
            and not res.text
            and not payload.lstrip().startswith("%PDF-")
        ):
            # an empty parse on a payload that doesn't genuinely BEGIN
            # with the header means the turn merely quotes PDF markup —
            # restore its text instead of destroying it (ADVICE r3) —
            # unless the payload reads as dense PDF source (ADVICE r4)
            if _is_pdf_source(payload):
                return _reject_fallback(res)
            return _plain_fallback(payload, res)
        return res
    if kind == "html":
        return _single_page(extract_main_content(payload), "html")
    return _single_page(payload, "plain")


# ADVICE r4 (plain-fallback corpus hygiene): a junk-prefixed but
# mostly-ASCII REAL pdf (e.g. AsciiHex/Ascii85 streams the parser
# failed on → n_pages == 0, no text) must not be emitted as plain
# "text" — that injects raw PDF markup into the training corpus. The
# separator between "IS pdf source" and "prose QUOTING pdf markup"
# (which the fallback exists to save, ADVICE r3) is structural-token
# density in a 4 KiB window ANCHORED AT THE HEADER (a long prose
# prefix must not hide the document body — review r5): a real
# document's head is wall-to-wall object machinery, a conversational
# quote carries a few mentions around prose. Bare 'stream' is NOT
# counted — it is common English ("a stream of events") and every real
# body pairs it with endstream/endobj anyway (review r5).
_PDF_STRUCT_TOKEN_RE = re.compile(
    r"\d+\s+\d+\s+obj\b|\bendobj\b|\bendstream\b"
    r"|\bxref\b|\btrailer\b|\bstartxref\b"
)
_PDF_SOURCE_MIN_TOKENS = 5


def _is_pdf_source(text: str) -> bool:
    # check a window at EVERY header occurrence (bounded): anchoring
    # only at the first would let a prose mention of '%PDF-' ahead of
    # the real document hide its body (review r5 pass 2). The head
    # window covers header-free object dumps.
    anchors = [0]
    i = text.find("%PDF-")
    while i >= 0 and len(anchors) < 9:
        anchors.append(i)
        i = text.find("%PDF-", i + 5)
    return any(
        len(_PDF_STRUCT_TOKEN_RE.findall(text[a : a + 4096]))
        >= _PDF_SOURCE_MIN_TOKENS
        for a in anchors
    )


def _reject_fallback(res: ExtractResult) -> ExtractResult:
    res.failure_reasons.append(
        "plain fallback rejected: payload is PDF source (dense "
        "structural tokens)"
    )
    return res


def _maybe_plain_fallback_bytes(buf: bytes, res: ExtractResult) -> ExtractResult:
    """Bytes-payload twin of the empty-parse plain fallback: only fires
    when the buffer doesn't genuinely begin with the PDF header AND it
    decodes to mostly-textual characters (binary garbage must stay an
    empty pdf result, not become mojibake 'text'). The textual check
    runs on the DECODED string, not raw bytes \u2014 UTF-8 multibyte text
    (Cyrillic/CJK chat quoting PDF markup) is \u226550% high bytes and a
    byte-level printable gate would destroy exactly the turns the
    fallback exists to save (review r4)."""
    if res.n_pages > 0 or res.text or buf.lstrip().startswith(b"%PDF-"):
        return res
    if not buf:
        return res
    from pdftotext_spark.html import decode_html_bytes

    # gate on a DECODED bounded prefix (multibyte-safe margin), not the
    # whole buffer \u2014 a multi-MB binary that tripped the deep probe must
    # not pay two O(n) decode passes just to be rejected (review r4);
    # U+FFFD is direct evidence of decode failure and never counts as
    # textual.
    probe = decode_html_bytes(buf[:8192]).lstrip("\ufeff")[:4096]
    if not probe:
        return res
    textual = sum(
        1
        for c in probe
        if (c.isprintable() and c != "\ufffd") or c in "\t\n\r"
    )
    if textual / len(probe) < 0.9:
        return res
    # the source-density windows anchor at every header occurrence
    # (bounded), which the deep probe may have found far past the
    # textual-gate prefix \u2014 and a prose '%PDF-' mention must not
    # shadow the real one (review r5, both passes): byte-level finds
    # plus at most 9 bounded decodes, no O(n) second pass
    anchors = []
    i = buf.find(b"%PDF-")
    while i >= 0 and len(anchors) < 8:
        anchors.append(i)
        i = buf.find(b"%PDF-", i + 5)
    # anchor 0 reuses the already-decoded textual-gate probe (the BOM
    # lstrip is irrelevant to the token regex) — no redundant decode
    # on the hot empty-parse path (review r5 pass 3)
    if _is_pdf_source(probe) or any(
        _is_pdf_source(decode_html_bytes(buf[a : a + 8192]))
        for a in anchors
    ):
        return _reject_fallback(res)
    return _plain_fallback(decode_html_bytes(buf).lstrip("\ufeff"), res)


def _plain_fallback(text: str, parse_res: ExtractResult) -> ExtractResult:
    """Deep-PDF-probe false positive: emit the payload as plain text
    while preserving the parse attempt's failure metrics (the probe's
    second line of defense — see ADVICE r3)."""
    res = _single_page(text, "plain")
    res.decode_failures = parse_res.decode_failures
    res.failure_reasons = list(parse_res.failure_reasons)
    res.failure_reasons.append("deep-pdf probe parse empty; fell back to plain")
    return res


def _extract_pdf(buf: bytes, options: ExtractOptions | None) -> ExtractResult:
    try:
        return extract_document(buf, options)
    except NotAPdfError:
        res = ExtractResult(kind="pdf", decode_failures=1)
        res.failure_reasons.append("no %PDF header")
        return res
    except Exception as exc:  # malformed payloads must never kill a task
        res = ExtractResult(kind="pdf", decode_failures=1)
        res.failure_reasons.append(f"{type(exc).__name__}: {exc}")
        return res
