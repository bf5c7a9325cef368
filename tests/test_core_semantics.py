"""Unit tests for the remaining §2 operator semantics: RTL reorder
(X1), header/footer stripping (P8/P10), template inlining (G5), raw
text-positioning operators (T4/T5), metadata edge cases."""

import random
import re

from pdftotext_spark.core.document import (
    ExtractOptions,
    extract_document,
    is_text_stream,
    strip_header_footer_spans,
)
from pdftotext_spark.core.fonts import FontTable
from pdftotext_spark.core.interpreter import (
    _OP_FAMILIES,
    DEFAULT_FONT_SIZE,
    MAX_BLANK_LINES,
    MIN_SPACE_WIDTH,
    count_statistics,
    decode_pdf_string,
    extract_text_raw,
    strip_useless_instructions,
    tokenize,
)
from pdftotext_spark.core.pagemap import is_page_header_or_footer
from pdftotext_spark.core.postprocess import parse_pdf_date, rtl_reorder
from pdftotext_spark.sources.pdfbuilder import PdfBuilder

# the regex object scan ``objects._iter_objects`` replaced: the
# reference side of its differential test
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
# the regex stream split ``objects.split_object`` replaced
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\n?endstream", re.S)


def _raw(stream: bytes) -> str:
    return extract_text_raw(stream, FontTable())


# ------------------------------------------------------- interpreter ops


def test_quote_operator_advances_line():
    # ' = T* + show text (PdfToText.php:3897–3921)
    s = b"BT 14 TL 1 0 0 1 72 720 Tm (first) Tj (second) ' (third) ' ET"
    assert _raw(s) == "first\nsecond\nthird"


def test_tstar_with_leading():
    s = b"BT 12 TL 1 0 0 1 72 720 Tm (a) Tj T* (b) Tj T* (c) Tj ET"
    assert _raw(s) == "a\nb\nc"


def test_large_dy_emits_blank_lines():
    # Δy of 3 line-heights → ~3 newlines (PdfToText.php:3793)
    s = b"BT 12 TL 1 0 0 1 72 720 Tm (top) Tj 0 -36 Td (bottom) Tj ET"
    assert _raw(s) == "top\n\n\nbottom"


def test_same_line_continuation():
    # Td with dy=0 stays on the same line
    s = b"BT 1 0 0 1 72 720 Tm (left) Tj 100 0 Td (right) Tj ET"
    assert _raw(s) == "leftright"


def test_moving_up_one_newline():
    s = b"BT 1 0 0 1 72 100 Tm (low) Tj 0 200 Td (high) Tj ET"
    assert _raw(s) == "low\nhigh"


def test_tj_kerning_threshold():
    # -150 < MIN_SPACE_WIDTH=200 → no space; -300 → space
    # (PdfToText.php:1127, 5497–5517)
    s = b"BT 1 0 0 1 72 720 Tm [ (a) -150 (b) -300 (c) ] TJ ET"
    assert _raw(s) == "ab c"


def test_hex_string_tj():
    s = b"BT 1 0 0 1 72 720 Tm <48 65 6C6C 6F> Tj ET"
    assert _raw(s) == "Hello"


def test_nested_parens_in_literal():
    s = b"BT 1 0 0 1 72 720 Tm (outer (inner) tail) Tj ET"
    assert _raw(s) == "outer (inner) tail"


def test_inline_image_prestripped():
    s = (
        b"BT 1 0 0 1 72 720 Tm (before) Tj ET\n"
        b"BI /W 4 /H 4 ID \x00\xff\x28\x29garbage EI\n"
        b"BT 1 0 0 1 72 700 Tm (after) Tj ET"
    )
    out = _raw(s)
    assert "garbage" not in out
    # Δy=20 at size 12 → round(20/12)=2 newlines (documented heuristic)
    assert out == "before\n\nafter"


def test_tokenizer_skips_dicts():
    toks = list(tokenize(b"<< /Type /Font >> (keep) Tj"))
    assert toks == [("str", b"keep"), ("op", "Tj")]


def test_is_text_stream():
    assert is_text_stream(b"BT (x) Tj ET")
    assert not is_text_stream(b"0 0 100 100 re f")


# ------------------------------------------------------- header/footer


def test_pagination_object_detect():
    assert is_page_header_or_footer(b"<< /Type /Pagination /Subtype /Header >>")
    assert is_page_header_or_footer(b"<< /Attached [ /Top ] >>")
    assert not is_page_header_or_footer(b"<< /Type /Page >>")


def test_header_footer_span_strip():
    s = (
        b"BT (body) Tj ET "
        b"/Artifact << /Attached /Top /Type /Pagination >> BDC BT (HEADER) Tj ET EMC "
        b"BT (more body) Tj ET"
    )
    out = strip_header_footer_spans(s)
    assert b"HEADER" not in out
    assert b"body" in out and b"more body" in out


# --------------------------------------------------- template inlining G5


def test_form_xobject_do_inlining():
    """/TPL1 Do splices the form XObject's content
    (PdfToText.php:8293–8331)."""
    b = PdfBuilder()
    catalog, pages_node, font, page, content, tpl = (b.alloc() for _ in range(6))
    b.add(catalog, f"<< /Type /Catalog /Pages {pages_node} 0 R >>\n".encode())
    b.add(pages_node, f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>\n".encode())
    b.add(font, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n")
    b.add(
        page,
        (
            f"<< /Type /Page /Parent {pages_node} 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font} 0 R >> "
            f"/XObject << /TPL1 {tpl} 0 R >> >> /Contents {content} 0 R >>\n"
        ).encode(),
    )
    b.add_stream(
        content,
        b"",
        b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (before) Tj ET /TPL1 Do "
        b"BT 1 0 0 1 72 680 Tm (after) Tj ET",
    )
    b.add_stream(
        tpl,
        b"/Subtype /Form /BBox [0 0 612 792]",
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (from template) Tj ET",
    )
    res = extract_document(b.build())
    assert "from template" in res.text
    assert res.text.index("before") < res.text.index("from template")
    assert "after" in res.text


# ------------------------------------------------------------------ RTL


def test_rtl_hebrew_run_reversed():
    # visual order in the PDF is reversed; rtl_reorder restores logical
    line = "שלום" + " hello"
    out = rtl_reorder(line)
    assert out.startswith("םולש")  # run reversed
    assert "hello" in out


def test_rtl_noop_for_latin():
    assert rtl_reorder("plain latin text") == "plain latin text"


# ------------------------------------------------------------- metadata


def test_pdf_date_variants():
    assert parse_pdf_date("D:20260101").startswith("2026-01-01T00:00:00")
    assert parse_pdf_date("D:20170509115932-02'00'").startswith("2017-05-09T11:59:32")
    assert parse_pdf_date("garbage") is None


def test_options_disable_header_footer_strip():
    s = (
        b"/Artifact << /Attached /Top >> BDC BT (HEADER) Tj ET EMC "
        b"BT (body) Tj ET"
    )
    kept = extract_text_raw(s, FontTable())
    assert "body" in kept  # raw interpreter itself doesn't strip spans


# ---------------------------------------------------- marker injection X5


def test_mark_text_like():
    """First fragment matching the regex binds its (font, size); all
    same-binding fragments get wrapped (PdfToText.php:2565–2573)."""
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf = pb.simple_pdf([["Heading One", "body text", "Heading Two"]])
    res = extract_document(
        pdf,
        ExtractOptions(layout=True, markers=(("Heading", "<h>", "</h>"),)),
    )
    # all three lines share one font/size in this fixture, so all wrap
    assert "<h>Heading One</h>" in res.text
    assert "<h>Heading Two</h>" in res.text


def test_mark_text_like_no_match_is_noop():
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf = pb.simple_pdf([["nothing to see"]])
    res = extract_document(
        pdf, ExtractOptions(layout=True, markers=(("ZZZ", "<m>", "</m>"),))
    )
    assert res.text == "nothing to see"


# ------------------------------------------------------ M5 statistics


def test_enhanced_statistics():
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf = pb.simple_pdf([["one", "two", "three"]])
    res = extract_document(pdf, ExtractOptions(enhanced_statistics=True))
    assert res.stats["show_ops"] == 3  # three Tj
    assert res.stats["position_ops"] >= 3  # Tm + two Td
    assert res.stats["bt_et"] == 2
    assert res.stats["operands"] > 0
    assert res.stats["optimized_text_size"] <= res.stats["text_size"]
    # off by default
    assert extract_document(pdf).stats == {}


def test_repeat_separator_option():
    from pdftotext_spark.core.interpreter import extract_text_raw
    from pdftotext_spark.core.fonts import FontTable

    s = b"BT 1 0 0 1 72 720 Tm [ (a) -2500 (b) ] TJ ET"
    assert extract_text_raw(s, FontTable()) == "a b"
    assert (
        extract_text_raw(s, FontTable(), repeat_separator=True) == "a  b"
    )  # ⌊2500/1000⌋ = 2 separators


def test_time_budget_skips_remaining_pages():
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf, goldens = pb.multipage_pdf(4)
    res = extract_document(pdf, ExtractOptions(max_seconds=1e-9))
    assert res.decode_failures >= 1
    assert res.n_pages < 4
    assert any("time budget" in r for r in res.failure_reasons)
    # generous budget extracts everything
    ok = extract_document(pdf, ExtractOptions(max_seconds=30.0))
    assert ok.pages == goldens and ok.decode_failures == 0


def test_simplify_unicode_option():
    """F13 unicode-to-ansi analog: ligatures/typographic chars → ASCII."""
    from pdftotext_spark.core.postprocess import simplify_to_ansi
    from pdftotext_spark.sources import pdfbuilder as pb

    assert simplify_to_ansi("ﬁnal — “quote”… café") == 'final - "quote"... café'
    pdf, _ = pb.tounicode_pdf("ﬁn—x", mode="bfchar")
    plain = extract_document(pdf)
    simplified = extract_document(pdf, ExtractOptions(simplify_unicode=True))
    assert plain.text == "ﬁn—x"
    assert simplified.text == "fin-x"


# ------------------------------------- fused-vs-token differential guards


def _extract_text_raw_tokens(
    stream: bytes,
    fonts: FontTable,
    page: int | None = None,
    stats: dict[str, int] | None = None,
    repeat_separator: bool = False,
    ignore_text_leading: bool = False,
) -> str:
    """Token-loop raw extraction: the interpreter the fused
    ``extract_text_raw`` replaced, kept as its differential reference.
    It also accumulates the M5 / PDFOPT_ENHANCED_STATISTICS counters
    (PdfToText.php:1686–1711) inline, the reference for
    ``count_statistics``."""
    if stats is not None:
        stats["text_size"] = stats.get("text_size", 0) + len(stream)
    stream = strip_useless_instructions(stream)
    if stats is not None:
        stats["optimized_text_size"] = (
            stats.get("optimized_text_size", 0) + len(stream)
        )
    out: list[str] = []
    operands: list[tuple] = []
    font = fonts.default_font()
    font_size = DEFAULT_FONT_SIZE
    leading = 0.0
    last_y: float | None = None

    def newline_count(dy: float) -> int:
        if dy >= 0:
            return 1
        unit = max(leading, font_size, 1.0)
        return max(1, min(MAX_BLANK_LINES, int(round(-dy / unit))))

    def emit_newlines(k: int) -> None:
        # trim trailing spaces on the completed line, then break
        if out and out[-1].endswith(" "):
            out[-1] = out[-1].rstrip(" ")
        out.append("\n" * k)

    def move_to_y(y: float, relative_dy: float | None = None) -> None:
        nonlocal last_y
        if last_y is None:
            last_y = y
            return
        dy = y - last_y if relative_dy is None else relative_dy
        if dy != 0:
            emit_newlines(newline_count(dy))
        last_y = y

    def append_text(tok: tuple) -> None:
        out.append(decode_pdf_string(tok, font))

    for tok in tokenize(stream):
        kind = tok[0]
        if kind in ("num", "str", "hex", "arr", "name"):
            if stats is not None:
                stats["operands"] = stats.get("operands", 0) + 1
            operands.append(tok)
            continue
        op = tok[1]
        if stats is not None:
            fam = _OP_FAMILIES.get(op, "ignored_ops")
            stats[fam] = stats.get(fam, 0) + 1
        if op == "Tf":
            if operands and operands[-1][0] == "num":
                font_size = abs(operands[-1][1]) or DEFAULT_FONT_SIZE
            if len(operands) >= 2 and operands[-2][0] == "name":
                f = fonts.resolve(operands[-2][1], page)
                if f is not None:
                    font = f
        elif op == "TL":
            # PDFOPT_IGNORE_TEXT_LEADING (PdfToText.php:3822)
            if not ignore_text_leading and operands and operands[-1][0] == "num":
                leading = abs(operands[-1][1])
        elif op == "Tm":
            nums = [t[1] for t in operands if t[0] == "num"]
            if len(nums) >= 6:
                move_to_y(nums[5])
        elif op in ("Td", "TD"):
            nums = [t[1] for t in operands if t[0] == "num"]
            if len(nums) >= 2:
                if op == "TD" and not ignore_text_leading:
                    leading = abs(nums[1])
                if last_y is None:
                    last_y = 0.0
                move_to_y(last_y + nums[1], relative_dy=nums[1])
        elif op == "T*":
            if last_y is None:
                last_y = 0.0
            dy = -(leading or font_size)
            move_to_y(last_y + dy, relative_dy=dy)
        elif op == "Tj":
            if operands and operands[-1][0] in ("str", "hex"):
                append_text(operands[-1])
        elif op in ("'", '"'):
            if last_y is None:
                last_y = 0.0
            dy = -(leading or font_size)
            move_to_y(last_y + dy, relative_dy=dy)
            if operands and operands[-1][0] in ("str", "hex"):
                append_text(operands[-1])
        elif op == "TJ":
            if operands and operands[-1][0] == "arr":
                for el in operands[-1][1]:
                    if el[0] in ("str", "hex"):
                        append_text(el)
                    elif el[0] == "num" and el[1] < -MIN_SPACE_WIDTH:
                        if repeat_separator:
                            # PDFOPT_REPEAT_SEPARATOR: repeat by
                            # ⌊offset / max(1000, MinSpaceWidth)⌋
                            # (T11, PdfToText.php:5497–5517)
                            n_rep = max(
                                1, int(-el[1] // max(1000.0, MIN_SPACE_WIDTH))
                            )
                            out.append(" " * n_rep)
                        else:
                            out.append(" ")
        elif op == "Do":
            emit_newlines(1)  # PdfToText.php:3925–3928
        operands.clear()

    text = "".join(out)
    # normalize: strip trailing spaces per line, collapse >MAX blank runs
    lines = [ln.rstrip() for ln in text.split("\n")]
    return "\n".join(lines).strip("\n")



_TOUNICODE_2BYTE = b"""/CIDInit /ProcSet findresource begin 12 dict begin begincmap
1 begincodespacerange <0000> <FFFF> endcodespacerange
2 beginbfchar
<0001> <0048>
<0002> <0069>
endbfchar
1 beginbfrange <0010> <0015> <0061> endbfrange
endcmap"""


def _mixed_font_table(first: str = "plain") -> FontTable:
    """A latin-1 font (/F1), a /Differences font (/F2), a font with
    2-byte ToUnicode codes (/F3) and a WinAnsi font (/F4); ``first``
    picks which one is the default before any Tf."""
    bodies = {
        "plain": (10, b"<< /Type /Font /BaseFont /Helvetica >>"),
        "differences": (11, b"<< /Type /Font /BaseFont /Times-Roman /Encoding 20 0 R >>"),
        "two_byte": (12, b"<< /Type /Font /Subtype /Type0 /BaseFont /CIDX /Encoding /Identity-H /ToUnicode 21 0 R >>"),
        "winansi": (13, b"<< /Type /Font /BaseFont /Courier /Encoding /WinAnsiEncoding >>"),
    }
    ft = FontTable()
    for name in [first] + [k for k in bodies if k != first]:
        ft.add_font(*bodies[name])
    ft.add_alias_map(b"<< /F1 10 0 R /F2 11 0 R /F3 12 0 R /F4 13 0 R >>")
    ft.attach_cmaps(
        {
            20: b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences [ 65 /B /C 97 /eacute /uni20AC ] >>",
            21: _TOUNICODE_2BYTE,
        }
    )
    return ft


_FONT_BATTERY = [
    b"BT /F2 12 Tf (ABC abc) Tj ET",
    b"BT /F2 12 Tf (\\101\\102 \\(a\\)) Tj <4142> Tj [(AB) -400 <6162>] TJ ET",
    b"BT /F2 12 Tf (AB) ' 1 2 (ab) \" ET",
    b"BT /F3 10 Tf <00010002> Tj [<0010> -300 <0011 0012>] TJ <000100> Tj ET",
    b"BT /F3 10 Tf (\\000\\001\\000\\002) Tj ET",
    b"BT /F4 9 Tf <80 93 94> Tj (\\200) Tj ET",
    # a Tf switch in the middle of a line, in and between TJ arrays
    b"BT /F1 12 Tf (plain ) Tj /F2 12 Tf (ABC) Tj /F3 12 Tf <0001> Tj /F1 12 Tf (x) Tj ET",
    b"BT /F2 12 Tf [(AB)] TJ /F3 12 Tf [<0010> -900 <0011>] TJ ET",
    # a Tf naming an unknown font keeps the previous decoder
    b"BT /F2 12 Tf (AB) Tj /Nope 12 Tf (AB) Tj [(ab)] TJ ET",
    b"BT /F3 12 Tf /Nope 9 Tf <0001> Tj ET",
    b"BT (AB) Tj /Nope 8 Tf (AB) Tj ET",
    # tokens after runs of NUL, form feed and other whitespace
    b"BT\x00\x00\x00/F2\x0c\x0c12\x00Tf\x0c(A)\x00\x00Tj\r\n\x0c0\x00-14\x0cTd<41>\x00Tj\x00\x00ET",
    b"\x00\x0c\t\r\n BT [\x00(A)\x0c-300\x00\x00(B)\x0c] \x00TJ ET",
    # a nested literal and a << that both follow whitespace
    b"BT  \n ((nested) A)   Tj \x00 << /D 1 >> \x0c ((x)) Tj ET",
    b"BT /F2 12 Tf [ \n ((n) A) \x00 << /K [ ] >> \x0c (z) ] TJ ET",
    b"BT (a) Tj \x00 > \x0c >> (b) Tj ET",
    # a stream whose tail is only whitespace
    b"BT /F2 12 Tf (tail) Tj ET" + b" \n\x00\x0c\r\t" * 5000,
    b"\x00\x0c \n",
]


_OP_BATTERY = [
    b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (Hello) Tj ET",
    b"BT (a) Tj 0 -14 Td (b) Tj 0 -28 Td (c) Tj ET",
    b"BT [(ker) -250 (ned)] TJ ET",
    b"BT [(a) -50 (b) -1500 (c)] TJ ET",
    b"BT (line1) ' (line2) ' ET",
    b'BT 2 3 (aw ac quoted) " ET',
    b"BT /F9 7.5 Tf <48656C6C 6F> Tj ET",
    b"BT T* (x) Tj T* (y) Tj ET",
    b"BT 14 TL (p) ' (q) ' ET",
    b"BT /XX Do (t) Tj ET",
    b"BT ((nested) parens) Tj ET",
    b"BT [((nst) a) -300 (z)] TJ ET",
    b"BT [ [(inner)] (outer) ] TJ ET",
    b"BT << /Junk [)] >> (after) Tj ET",
    b"BT [ << /D [ ] >> (el) ] TJ ET",
    b"BT ] (stray) Tj ET",
    b"BT /F1 Tf (nosize) Tj ET",
    b"BT 12 Tf (noname) Tj ET",
    b"garbage \x01\x02 BT (ok) Tj ET trailing",
    b"BT (esc \\( paren \\n) Tj ET",
    b"BT <4 8> Tj ET",
    b"",
]


def test_fused_raw_interpreter_matches_token_path():
    """The fused scan+interpret fast path must be byte-identical to the
    token-loop reference on the full operator battery."""
    from pdftotext_spark.core.interpreter import font_decoder

    for s in _OP_BATTERY:
        assert extract_text_raw(s, FontTable()) == _extract_text_raw_tokens(
            s, FontTable()
        ), s
    # per-font decoders (/Differences, 2-byte ToUnicode codes, Tf
    # switches, unknown fonts) and the whitespace folded into each
    # token match, under each font as the default
    ft = _mixed_font_table()
    assert font_decoder(ft.resolve("F2"))(b"ABa") == "BC\u00e9"
    assert font_decoder(ft.resolve("F3"))(b"\x00\x01\x00\x11\x00") == "Hb"
    for first in ("plain", "differences", "two_byte", "winansi"):
        for s in _FONT_BATTERY:
            fused = extract_text_raw(s, _mixed_font_table(first))
            assert fused == _extract_text_raw_tokens(s, _mixed_font_table(first)), (first, s)
    assert extract_text_raw(_FONT_BATTERY[8], ft) == "BCBC\u00e9\u20ac"
    assert extract_text_raw(_FONT_BATTERY[-2], ft) == "t\u00e9il"


def test_token_regex_matches_after_any_whitespace_run():
    """After a whitespace run some alternative always matches, the end
    of the stream included, so a long run is scanned once, never again
    from each of its bytes."""
    from pdftotext_spark.core.interpreter import _MASTER_RE

    for b in range(256):
        m = _MASTER_RE.match(b" \x00\x0c\n" + bytes([b]))
        assert m is not None and m.end() == 5, b
    assert _MASTER_RE.match(b"\x00\x0c \n").end() == 4


def _fonts(first: str | None) -> FontTable:
    return FontTable() if first is None else _mixed_font_table(first)


def _fuzz_streams():
    """3,000 random content streams, each with the default font to
    read it under (``None``: an empty font table): 1,500 of operators
    and operands joined by spaces, then 1,500 that also switch between
    fonts and separate tokens by mixed whitespace runs."""
    rng = random.Random(7)
    alphabet = [
        b"BT", b"ET", b"(txt)", b"(a(b)c)", b"<414 2>", b"[", b"]",
        b"-300", b"12", b"/F1", b"Tf", b"Td", b"TD", b"Tm", b"Tj",
        b"TJ", b"'", b'"', b"T*", b"TL", b"Do", b"<<", b">>", b"q",
        b"Q", b"0.5", b"(x)",
    ]
    for _ in range(1500):
        yield b" ".join(rng.choices(alphabet, k=rng.randrange(1, 40))), None
    alphabet += [b"/F2", b"/F3", b"/F4", b"/Nope", b"<0001 0010>", b"(\\101b)", b">"]
    seps = [b" ", b"\x00", b"\x0c\n", b"\t\r \x00"]
    for i in range(1500):
        toks = rng.choices(alphabet, k=rng.randrange(1, 40))
        s = b"".join(t + rng.choice(seps) for t in toks)
        yield s, ("plain", "differences", "two_byte", "winansi")[i % 4]


def test_fused_raw_interpreter_fuzz_equivalence():
    for s, first in _fuzz_streams():
        assert extract_text_raw(s, _fonts(first)) == _extract_text_raw_tokens(
            s, _fonts(first)
        ), s


# ------------------------------------------------- M5 statistics counting


def test_count_statistics_pins_every_counter():
    """One stream with every operator family, an unknown operator,
    an inline image, marked content, a nested TJ array and a dict.
    The pre-strip drops the image and the marked-content tags; the
    dict is skipped whole; the nested array is one operand. Keys come
    in order of first appearance."""
    s = (
        b"/Span << /MCID 0 >> BDC q BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm "
        b"(a) Tj 0 -14 Td [(b) -300 [(c)] (d)] TJ 0 -14 TD T* (e) ' "
        b'1 2 (f) " ET Q EMC /P BMC BI /W 2 /H 2 ID xxxx EI EMC '
        b"<< /K 1 >> 0 0 10 10 re f"
    )
    stats: dict[str, int] = {}
    count_statistics(s, stats)
    assert list(stats.items()) == [
        ("text_size", len(s)),
        # five spans become one space each: the BDC with its dict (22
        # bytes fewer), two EMC (2 each), the BMC (5) and BI…EI (22)
        ("optimized_text_size", len(s) - 53),
        ("ignored_ops", 4),  # q Q re f
        ("bt_et", 2),
        ("operands", 23),
        ("font_ops", 2),  # Tf TL
        ("position_ops", 4),  # Tm Td TD T*
        ("show_ops", 4),  # Tj TJ ' "
    ]
    # a second page adds to the same counters
    count_statistics(s, stats)
    assert stats["bt_et"] == 4 and stats["text_size"] == 2 * len(s)


def test_count_statistics_matches_token_loop_stats():
    """The counting pass gives the token loop's stats dict, key order
    included, on the battery and fuzz streams, on fuzz streams with
    inline images, marked content and nested arrays, and summed over
    a run of streams as over a document's pages."""
    rng = random.Random(5)
    marked = [
        b"BT", b"ET", b"(t)", b"[", b"]", b"[ [(n)] (o) ]", b"-300", b"/F1",
        b"Tf", b"Tj", b"TJ", b"Td", b"q", b"BI /W 1 ID \x00\xff EI", b"BI",
        b"EI", b"/Span << /MCID 3 >> BDC", b"/P BMC", b"/X BDC", b"EMC",
        b"<< /A << /B 1 >> >>", b"re",
    ]
    extra = [
        b" ".join(rng.choices(marked, k=rng.randrange(1, 30)))
        for _ in range(2000)
    ]
    streams = (
        _OP_BATTERY + _FONT_BATTERY + [s for s, _ in _fuzz_streams()] + extra
    )
    counted: dict[str, int] = {}
    ref: dict[str, int] = {}
    for s in streams:
        one: dict[str, int] = {}
        count_statistics(s, one)
        one_ref: dict[str, int] = {}
        _extract_text_raw_tokens(s, FontTable(), stats=one_ref)
        assert list(one.items()) == list(one_ref.items()), s
        count_statistics(s, counted)
        _extract_text_raw_tokens(s, FontTable(), stats=ref)
    assert list(counted.items()) == list(ref.items())


def test_enhanced_statistics_counts_raw_mode_only():
    from pdftotext_spark.sources import pdfbuilder as pb

    pdf = pb.simple_pdf([["one", "two", "three"]])
    on = ExtractOptions(enhanced_statistics=True)
    assert extract_document(pdf, on).text == extract_document(pdf).text
    layout = ExtractOptions(layout=True, enhanced_statistics=True)
    assert extract_document(pdf, layout).stats == {}


def test_raw_mode_calls_the_interpreter_through_document(monkeypatch):
    """perfbench's traced run times the raw interpreter by patching
    ``document.extract_text_raw``: a raw-mode document must reach it
    through that module attribute, once per page."""
    from pdftotext_spark.core import document
    from pdftotext_spark.sources import pdfbuilder as pb

    calls = []

    def counting(*args, **kwargs):
        calls.append(kwargs.get("page"))
        return extract_text_raw(*args, **kwargs)

    monkeypatch.setattr(document, "extract_text_raw", counting)
    pdf, goldens = pb.multipage_pdf(4)
    res = document.extract_document(pdf, ExtractOptions(enhanced_statistics=True))
    assert res.pages == goldens
    assert len(calls) == res.n_pages == 4
    assert res.stats["show_ops"] > 0


def test_find_based_object_scan_matches_regex():
    """_iter_objects (memmem-anchored) must agree with the original
    regex on builders, edge shapes and garbage fuzz."""
    from pdftotext_spark.core.objects import _iter_objects
    from pdftotext_spark.sources import pdfbuilder as pb

    def ref(buf):
        return [(int(m.group(1)), m.group(3)) for m in _OBJ_RE.finditer(buf)]

    cases = [
        pb.simple_pdf([["hello world"]]),
        pb.simple_pdf([["x"]], stream_filter="FlateDecode"),
        pb.objstm_pdf("inside")[0],
        b"",
        b"no objects here",
        b"3 0 obj",
        b"endobj endobj",
        b"12 0 obj <<>> endobj 13 0 obj (x) endobj",
        b"xxobj 1 0 obj A endobj",
        b"9 obj A endobj",
        b"1 0 obj trailing without end",
        b"1  0\nobj\nbody\nendobj",
        b"obj endobj 2 1 obj ok endobj",
        b"7 0 objx not real endobj 8 0 obj real endobj",
    ]
    random.seed(3)
    toks = [
        b"obj", b"endobj", b" ", b"\n", b"12", b"0", b"3", b"<<", b">>",
        b"(s)", b"stream", b"endstream",
        bytes(random.randrange(256) for _ in range(5)),
    ]
    for _ in range(1500):
        cases.append(b"".join(random.choices(toks, k=random.randrange(0, 30))))
    for c in cases:
        assert list(_iter_objects(c)) == ref(c), c[:80]


def test_find_based_split_object_matches_regex():
    from pdftotext_spark.core.objects import split_object

    def ref(body):
        sm = _STREAM_RE.search(body)
        if not sm:
            return body, None
        return body[: sm.start()], sm.group(1)

    random.seed(11)
    toks = [
        b"stream", b"endstream", b"\n", b"\r\n", b"\r", b"<<", b">>",
        b"/Length 5", b" ", b"DATA",
        bytes(random.randrange(256) for _ in range(4)),
    ]
    cases = [
        b"", b"stream", b"stream\nX\nendstream",
        b"<< >> stream\r\nBIN\r\nendstream",
        b"streamX stream\nok\nendstream", b"stream\rreal\nendstream",
        b"stream\nA endstreamB endstream", b"stream\nnoend",
        b"stream\n\r\nendstream", b"stream\n\nendstream",
        b"stream\n\rendstream",
    ]
    for _ in range(4000):
        cases.append(b"".join(random.choices(toks, k=random.randrange(0, 14))))
    for c in cases:
        assert split_object(c) == ref(c), c[:60]


def test_ignore_text_leading_option():
    """PDFOPT_IGNORE_TEXT_LEADING: TL/TD leading is ignored, so the
    accumulated y-trajectory (and therefore blank-line counts on a
    later absolute Tm) changes; fused and token paths must agree in
    BOTH settings."""
    from pdftotext_spark.core.fonts import FontTable

    # TL 100 then three T*: honored leading walks y down 300; ignored
    # leading walks only 3 x font size. The absolute Tm afterwards
    # yields different dy -> different blank-line runs.
    stream = (
        b"BT /F1 12 Tf 100 TL (a) Tj T* (b) Tj T* (c) Tj T* "
        b"1 0 0 1 0 -350 Tm (z) Tj ET"
    )
    ft = FontTable()
    honored_f = extract_text_raw(stream, ft)
    ignored_f = extract_text_raw(stream, ft, ignore_text_leading=True)
    assert honored_f != ignored_f
    honored_t = _extract_text_raw_tokens(stream, ft)
    ignored_t = _extract_text_raw_tokens(
        stream, ft, ignore_text_leading=True
    )
    assert honored_t == honored_f and ignored_t == ignored_f
    # ignored-leading run sees a much larger Tm drop -> more newlines
    assert ignored_f.count("\n") > honored_f.count("\n")


def test_global_deadline_skips_payloads():
    """MaxGlobalExecutionTime analog: an expired global deadline skips
    the payload as a recorded failure without parsing; a future
    deadline parses normally."""
    import time

    from pdftotext_spark.core.document import ExtractOptions, extract_document
    from pdftotext_spark.sources.pdfbuilder import simple_pdf

    buf = simple_pdf([["hello world"]])
    expired = ExtractOptions(global_deadline_epoch=time.time() - 1)
    res = extract_document(buf, expired)
    assert res.decode_failures == 1
    assert res.failure_reasons == ["global time budget exceeded"]
    assert res.text == "" and not res.pages

    live = ExtractOptions(global_deadline_epoch=time.time() + 3600)
    res2 = extract_document(buf, live)
    assert res2.decode_failures == 0
    assert "hello world" in "\n".join(res2.pages)
