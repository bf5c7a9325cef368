"""Content-stream tokenizer + interpreters (SURVEY.md §2.6 T1–T13).

The reference implements two extraction modes selected by option mask
(PdfToText.php:1071–1074): a *raw* mode emitting text in content order
with y-movement newline heuristics (PdfToText.php:3327–3845), and a
*layout* mode tracking the full 2×3 text/CTM matrix state and emitting
positioned fragments (PdfToText.php:4224–4554). Both share one
tokenizer design (PdfToText.php:4014–4191) and one string-decode path
(PdfToText.php:3456–3696).

Our tokenizer is a single-pass byte scanner; unknown operators are
ignored by the interpreter (equivalent in effect to the reference's
regex pre-strip battery, PdfToText.php:5814–5822 — we keep a light
pre-strip only for constructs that would confuse tokenization:
inline images ``BI…EI`` and marked-content tags).

Newline heuristics (documented contract, tested by construction):
- a text-positioning move to a lower y emits
  ``max(1, min(8, round(-dy / max(leading, font_size, 1))))`` newlines
  (reference: extra blank lines ≈ Δy/fontsize, PdfToText.php:3793);
- a move upward emits exactly one newline;
- ``T*``, ``'`` and ``"`` advance one line via TL;
- a TJ kerning offset < −``MIN_SPACE_WIDTH`` (=200/1000 em, matching
  the reference default, PdfToText.php:1127) inserts one separator
  space (T11, PdfToText.php:5497–5517);
- ``Do`` forces a newline (PdfToText.php:3925–3928).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pdftotext_spark.core.fonts import Font, FontTable
from pdftotext_spark.core.strings import hex_string_bytes, unescape_literal

MIN_SPACE_WIDTH = 200.0  # 1/1000 em (PdfToText.php:1127)
MAX_BLANK_LINES = 8
DEFAULT_FONT_SIZE = 12.0

_PRESTRIP_RES = [
    re.compile(rb"\bBI\b.*?\bEI\b", re.S),  # inline images
    re.compile(rb"/[^\s/<>\[\]()]+\s*<<[^<>]*>>\s*BDC"),  # marked content w/ props
    re.compile(rb"/[^\s/<>\[\]()]+\s+BDC"),
    re.compile(rb"/[^\s/<>\[\]()]+\s+BMC"),
    re.compile(rb"\bEMC\b"),
]

# operator → M5 statistics family (PDFOPT_ENHANCED_STATISTICS)
_OP_FAMILIES = {
    "Tj": "show_ops", "TJ": "show_ops", "'": "show_ops", '"': "show_ops",
    "Tm": "position_ops", "Td": "position_ops", "TD": "position_ops",
    "T*": "position_ops", "Tf": "font_ops", "TL": "font_ops",
    "BT": "bt_et", "ET": "bt_et",
}


def strip_useless_instructions(stream: bytes) -> bytes:
    """Light pre-strip (T1 analog, PdfToText.php:5814–5822).

    Most content streams carry none of the stripped constructs, so a
    C-level substring pre-check skips the five regex passes entirely
    on the common path."""
    if (
        b"BI" not in stream
        and b"BDC" not in stream
        and b"BMC" not in stream
        and b"EMC" not in stream
    ):
        return stream
    for rx in _PRESTRIP_RES:
        stream = rx.sub(b" ", stream)
    return stream


# ---------------------------------------------------------------- tokenizer

# token kinds: ('num', float) ('str', bytes-raw) ('hex', bytes-raw)
#              ('name', str) ('arr', [tokens]) ('op', str)
Token = tuple


# master token pattern: one C-level scan per token instead of a
# per-byte Python loop. Whitespace is a leading run of each token's
# match, not a match of its own. The junk alternative also takes a
# lone `>` and the end of the stream, so some alternative always
# matches after the run: otherwise the search retries the run from
# each of its bytes, quadratic in its length on a whitespace-only
# tail. The literal-string alternative matches only NON-nested
# strings; nested ones (rare) fall back to the manual scanner from the
# `(` at m.start(9). `<<` falls back to a balanced skip.
_MASTER_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*(?:"
    rb"(?P<str>\((?:[^()\\]|\\.)*\))"
    rb"|(?P<dict><<)"
    rb"|(?P<hex><[0-9A-Fa-f\s]*>)"
    rb"|(?P<arr>\[)"
    rb"|(?P<arr_close>\])"
    rb"|(?P<name>/[^\x00\t\n\x0c\r /<>\[\]()]*)"
    rb"|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+)(?![^\x00\t\n\x0c\r /<>\[\]()]))"
    rb"|(?P<op>[^\x00\t\n\x0c\r /<>\[\]()]+)"
    rb"|(?P<lparen>\()"  # nested literal: regex str-alt failed → manual scan
    rb"|(?P<junk>[<>)]|\Z))"
)
# the tokenizer dispatches on integer lastindex; pin the group layout
# so a regex edit cannot silently desynchronize it
assert _MASTER_RE.groupindex == {
    "str": 1, "dict": 2, "hex": 3, "arr": 4, "arr_close": 5,
    "name": 6, "num": 7, "op": 8, "lparen": 9, "junk": 10,
}


def tokenize(stream: bytes):
    """Single-pass tokenizer (T2/T3, PdfToText.php:4014–4191).

    Literal strings are paren-nesting- and escape-aware; hex strings
    tolerate inner whitespace; ``<<…>>`` dicts are skipped whole;
    arrays yield nested token lists (for TJ). Returns a list (cheaper
    than a generator for the interpreter's tight loop).
    """
    out: list[Token] = []
    stack: list[list[Token]] = []
    emit = out.append
    pos = 0
    n = len(stream)
    # integer lastindex dispatch (group numbers fixed by _MASTER_RE
    # order), most-frequent kinds first — this loop runs per token of
    # every content stream. finditer iterates matches in C (no
    # per-token Python match(stream, pos) call); search-vs-anchor is
    # equivalent because the anchored loop skipped non-matching bytes
    # one at a time. Manual skips (dicts, nested literals) adjust pos
    # and restart the iterator.
    restart = True
    while restart and pos < n:
        restart = False
        for m in _MASTER_RE.finditer(stream, pos):
            kind = m.lastindex
            if kind == 7:  # num
                emit(("num", float(m.group(7))))
            elif kind == 8:  # op
                emit(("op", m.group(8).decode("latin-1")))
            elif kind == 1:  # str (non-nested literal)
                emit(("str", m.group(1)[1:-1]))
            elif kind == 6:  # name
                emit(("name", m.group(6)[1:].decode("latin-1")))
            elif kind == 3:  # hex
                emit(("hex", m.group(3)[1:-1]))
            elif kind == 4:  # arr open
                stack.append([])  # emissions now land in the array
                emit = stack[-1].append
            elif kind == 5:  # arr close
                if stack:
                    arr_list = stack.pop()
                    target = stack[-1] if stack else out
                    emit = target.append
                    emit(("arr", arr_list))
            elif kind == 2:  # << dict: balanced skip
                depth = 1
                j = m.end()
                while j < n - 1 and depth:
                    two = stream[j : j + 2]
                    if two == b"<<":
                        depth += 1
                        j += 2
                    elif two == b">>":
                        depth -= 1
                        j += 2
                    else:
                        j += 1
                pos = j
                restart = True
                break
            elif kind == 9:  # lparen: nested literal — the non-nested
                # alternative could not match; escape-aware balanced scan
                tok, pos = _scan_literal(stream, m.start(9))
                emit(tok)
                restart = True
                break
            # kind 10: junk '<', '>' or ')' alone, or the end — skipped
    return out


def _scan_literal(stream: bytes, i: int) -> tuple[Token, int]:
    """Manual nesting-aware literal scan starting at the '(' byte."""
    depth = 1
    j = i + 1
    start = j
    n = len(stream)
    while j < n and depth:
        cj = stream[j]
        if cj == 0x5C:
            j += 2
            continue
        if cj == 0x28:
            depth += 1
        elif cj == 0x29:
            depth -= 1
        j += 1
    return ("str", stream[start : j - 1]), j


# ------------------------------------------------------------ string decode


def decode_pdf_string(tok: Token, font: Font | None) -> str:
    """Decode a ('str'|'hex') token through the current font
    (T9/T10, PdfToText.php:3456–3696 / 4800–5045)."""
    kind, raw = tok[0], tok[1]
    if kind == "hex":
        data = hex_string_bytes(raw)
    else:
        data = unescape_literal(raw)
    return font_decoder(font)(data)


def _latin1(data: bytes) -> str:
    return data.decode("latin-1")


def font_decoder(font: Font | None) -> Callable[[bytes], str]:
    """The decode of every string shown in ``font``, after the
    escape/hex step: latin-1 with no font or a trivial one, the
    ``map_char`` join for multi-byte codes, else the font's 1-byte
    decode. The fused interpreter resolves it once per font selection
    instead of per string."""
    if font is None:
        return _latin1
    w = font.code_width
    if w >= 2:
        mc = font.map_char

        def decode_codes(data: bytes) -> str:
            return "".join(
                mc(int.from_bytes(data[k : k + w], "big"))
                for k in range(0, len(data) - (len(data) % w), w)
            )

        return decode_codes
    if font.is_trivial:
        return _latin1
    return font.decode_single_bytes


# ------------------------------------------------------------- raw mode T5


def count_statistics(stream: bytes, stats: dict[str, int]) -> None:
    """Add one content stream to the M5 / PDFOPT_ENHANCED_STATISTICS
    counters (PdfToText.php:1686–1711): its size before and after the
    pre-strip, then one count per top-level token of the stripped
    stream, under ``operands`` or its operator's family."""
    stats["text_size"] = stats.get("text_size", 0) + len(stream)
    stream = strip_useless_instructions(stream)
    stats["optimized_text_size"] = stats.get("optimized_text_size", 0) + len(stream)
    for kind, val in tokenize(stream):
        key = _OP_FAMILIES.get(val, "ignored_ops") if kind == "op" else "operands"
        stats[key] = stats.get(key, 0) + 1


def extract_text_raw(
    stream: bytes,
    fonts: FontTable,
    page: int | None = None,
    repeat_separator: bool = False,
    ignore_text_leading: bool = False,
) -> str:
    """Raw-mode extraction (PdfToText.php:3327–3845) as one fused
    scan+interpret pass: one regex pass with register-tracked operands
    instead of a token list — no per-token tuples, no operand list,
    byte-level op dispatch, and one string decoder per font selection
    (:func:`font_decoder`). Its differential reference is the token-loop
    interpreter in ``tests/test_core_semantics.py``. This loop is the
    single hottest code in the engine: most of the core's CPU on the
    ``extract_longpdf`` workload."""
    stream = strip_useless_instructions(stream)
    out: list[str] = []
    # the current font's string decode, re-resolved at each Tf that
    # names a known font
    decode = font_decoder(fonts.default_font())
    font_size = DEFAULT_FONT_SIZE
    leading = 0.0
    last_y: float | None = None

    # operand registers (kinds: 0 none, 1 string, 3 num, 4 name,
    # 5 TJ-array); a string, literal or hex, is held as its bytes after
    # the escape or hex step, so showing it is one call of `decode`;
    # `nums` mirrors the token-loop reference's per-op float list
    prev_kind = 0
    prev_val: object = None
    last_kind = 0
    last_val: object = None
    nums: list[float] = []
    arr: list[tuple] = []
    arr_depth = 0

    def emit_newlines(k: int) -> None:
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
            if dy >= 0:
                k = 1
            else:
                unit = max(leading, font_size, 1.0)
                k = max(1, min(MAX_BLANK_LINES, int(round(-dy / unit))))
            emit_newlines(k)
        last_y = y

    pos = 0
    n = len(stream)
    # finditer iterates token matches in C instead of re-invoking
    # match(stream, pos) from Python per token (~0.5 µs/call × one
    # call per token). Equivalence with the anchored loop: the old
    # loop advanced pos by 1 on a non-matching byte, which is exactly
    # finditer's search-skip. The rare manual skips (balanced <<…>>
    # dicts, nested-paren literals) adjust pos directly and restart
    # the iterator there.
    restart = True
    while restart and pos < n:
        restart = False
        for m in _MASTER_RE.finditer(stream, pos):
            kind = m.lastindex
            if arr_depth:
                # inside a TJ array: tokens are collected (depth 1
                # only), never dispatched — mirrors the token-loop
                # reference, where array elements land in a nested list
                # the interpreter iterates
                if kind == 5:  # ]
                    arr_depth -= 1
                    if arr_depth == 0:
                        prev_kind, prev_val = last_kind, last_val
                        last_kind, last_val = 5, arr
                elif kind == 4:  # nested [
                    arr_depth += 1
                elif kind == 2:  # << dict: balanced skip at any depth
                    depth = 1
                    j = m.end()
                    while j < n - 1 and depth:
                        two = stream[j : j + 2]
                        if two == b"<<":
                            depth += 1
                            j += 2
                        elif two == b">>":
                            depth -= 1
                            j += 2
                        else:
                            j += 1
                    pos = j
                    restart = True
                    break
                elif kind == 9:  # nested-paren literal: scan anywhere
                    tok, pos = _scan_literal(stream, m.start(9))
                    if arr_depth == 1:
                        arr.append((1, unescape_literal(tok[1])))
                    restart = True
                    break
                elif arr_depth == 1:
                    if kind == 7:  # num (kern offset)
                        arr.append((3, float(m.group(7))))
                    elif kind == 1:  # literal string
                        raw = m.group(1)[1:-1]
                        arr.append((1, unescape_literal(raw)))
                    elif kind == 3:  # hex string
                        arr.append((1, hex_string_bytes(m.group(3)[1:-1])))
                    # names/operators/junk inside arrays: collected as
                    # inert elements by the token loop, ignored by TJ
                continue
            if kind == 7:  # num
                prev_kind, prev_val = last_kind, last_val
                v = float(m.group(7))
                last_kind, last_val = 3, v
                nums.append(v)
            elif kind == 8:  # operator: dispatch on raw bytes
                op = m.group(8)
                if op == b"Tj":
                    if last_kind == 1:
                        out.append(decode(last_val))
                elif op == b"Td" or op == b"TD":
                    if len(nums) >= 2:
                        if op == b"TD" and not ignore_text_leading:
                            leading = abs(nums[1])
                        if last_y is None:
                            last_y = 0.0
                        move_to_y(last_y + nums[1], relative_dy=nums[1])
                elif op == b"Tm":
                    if len(nums) >= 6:
                        move_to_y(nums[5])
                elif op == b"TJ":
                    if last_kind == 5:
                        for el_kind, el_val in last_val:
                            if el_kind == 1:
                                out.append(decode(el_val))
                            elif el_val < -MIN_SPACE_WIDTH:
                                if repeat_separator:
                                    n_rep = max(
                                        1,
                                        int(
                                            -el_val
                                            // max(1000.0, MIN_SPACE_WIDTH)
                                        ),
                                    )
                                    out.append(" " * n_rep)
                                else:
                                    out.append(" ")
                elif op == b"Tf":
                    if last_kind == 3:
                        font_size = abs(last_val) or DEFAULT_FONT_SIZE
                    if prev_kind == 4:
                        f = fonts.resolve(
                            prev_val[1:].decode("latin-1"), page
                        )
                        if f is not None:
                            decode = font_decoder(f)
                elif op == b"TL":
                    # PDFOPT_IGNORE_TEXT_LEADING (PdfToText.php:3822)
                    if last_kind == 3 and not ignore_text_leading:
                        leading = abs(last_val)
                elif op == b"T*":
                    if last_y is None:
                        last_y = 0.0
                    dy = -(leading or font_size)
                    move_to_y(last_y + dy, relative_dy=dy)
                elif op == b"'" or op == b'"':
                    if last_y is None:
                        last_y = 0.0
                    dy = -(leading or font_size)
                    move_to_y(last_y + dy, relative_dy=dy)
                    if last_kind == 1:
                        out.append(decode(last_val))
                elif op == b"Do":
                    emit_newlines(1)  # PdfToText.php:3925-3928
                prev_kind = last_kind = 0
                prev_val = last_val = None
                nums.clear()
            elif kind == 1:  # non-nested literal string
                prev_kind, prev_val = last_kind, last_val
                raw = m.group(1)[1:-1]
                last_kind = 1
                last_val = unescape_literal(raw)
            elif kind == 6:  # name (kept raw; decoded only at Tf)
                prev_kind, prev_val = last_kind, last_val
                last_kind, last_val = 4, m.group(6)
            elif kind == 3:  # hex string
                prev_kind, prev_val = last_kind, last_val
                last_kind, last_val = 1, hex_string_bytes(m.group(3)[1:-1])
            elif kind == 4:  # [ begins a TJ array
                arr = []
                arr_depth = 1
            elif kind == 2:  # << dict: balanced skip
                depth = 1
                j = m.end()
                while j < n - 1 and depth:
                    two = stream[j : j + 2]
                    if two == b"<<":
                        depth += 1
                        j += 2
                    elif two == b">>":
                        depth -= 1
                        j += 2
                    else:
                        j += 1
                pos = j
                restart = True
                break
            elif kind == 9:  # nested literal fallback
                tok, pos = _scan_literal(stream, m.start(9))
                prev_kind, prev_val = last_kind, last_val
                last_kind, last_val = 1, unescape_literal(tok[1])
                restart = True
                break
            # kind 5 (stray ]) / 10 (junk): dropped, registers untouched

    text = "".join(out)
    lines = [ln.rstrip() for ln in text.split("\n")]
    return "\n".join(lines).strip("\n")


# ----------------------------------------------------------- layout mode T6


@dataclass
class Fragment:
    """Positioned text fragment (SURVEY.md §1.1 'text fragment';
    built at PdfToText.php:4480–4489)."""

    page: int
    seq: int
    x: float
    y: float
    font_height: float
    font: str
    text: str
    width: float = 0.0


def _mat_mul(a: tuple, b: tuple) -> tuple:
    """2×3 affine multiply a·b (PdfToText.php:4569–4598)."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def extract_fragments(
    stream: bytes,
    fonts: FontTable,
    page: int,
    seq_start: int = 0,
) -> list[Fragment]:
    """Layout-mode interpreter (PdfToText.php:4224–4554): full matrix
    state with ``cm`` CTM and ``q/Q`` graphics stack; emits fragments."""
    stream = strip_useless_instructions(stream)
    frags: list[Fragment] = []
    operands: list[Token] = []
    font: Font | None = fonts.default_font()
    font_name = ""
    font_size = DEFAULT_FONT_SIZE
    leading = 0.0
    tm = _IDENT  # text matrix
    tlm = _IDENT  # text line matrix
    ctm = _IDENT
    gstack: list[tuple] = []
    seq = seq_start

    def device_xy() -> tuple[float, float]:
        m = _mat_mul(tm, ctm)
        return m[4], m[5]

    def effective_size() -> float:
        m = _mat_mul(tm, ctm)
        sy = (m[1] ** 2 + m[3] ** 2) ** 0.5
        return abs(font_size * sy)

    def emit(text: str) -> None:
        nonlocal seq
        if not text:
            return
        x, y = device_xy()
        w = font.string_width(text, effective_size()) if font else len(text) * effective_size() * 0.5
        frags.append(
            Fragment(page, seq, x, y, effective_size(), font_name, text, w)
        )
        seq += 1

    def advance_x(w: float) -> None:
        nonlocal tm
        tm = _mat_mul((1, 0, 0, 1, w, 0), tm)

    def text_newline(dy: float) -> None:
        nonlocal tm, tlm
        tlm = _mat_mul((1, 0, 0, 1, 0.0, dy), tlm)
        tm = tlm

    for tok in tokenize(stream):
        kind = tok[0]
        if kind in ("num", "str", "hex", "arr", "name"):
            operands.append(tok)
            continue
        op = tok[1]
        nums = [t[1] for t in operands if t[0] == "num"]
        if op == "BT":
            tm = tlm = _IDENT
        elif op == "Tf":
            if nums:
                font_size = abs(nums[-1]) or DEFAULT_FONT_SIZE
            names = [t[1] for t in operands if t[0] == "name"]
            if names:
                font_name = names[-1]
                f = fonts.resolve(font_name, page)
                if f is not None:
                    font = f
        elif op == "TL":
            if nums:
                leading = abs(nums[-1])
        elif op == "Tm":
            if len(nums) >= 6:
                tm = tlm = tuple(nums[:6])
        elif op in ("Td", "TD"):
            if len(nums) >= 2:
                if op == "TD":
                    leading = abs(nums[1])
                tlm = _mat_mul((1, 0, 0, 1, nums[0], nums[1]), tlm)
                tm = tlm
        elif op == "T*":
            text_newline(-(leading or font_size))
        elif op == "cm":
            if len(nums) >= 6:
                ctm = _mat_mul(tuple(nums[:6]), ctm)
        elif op == "q":
            gstack.append(ctm)
        elif op == "Q":
            if gstack:
                ctm = gstack.pop()
        elif op == "Tj":
            if operands and operands[-1][0] in ("str", "hex"):
                t = decode_pdf_string(operands[-1], font)
                emit(t)
                if font:
                    advance_x(font.string_width(t, font_size))
        elif op in ("'", '"'):
            text_newline(-(leading or font_size))
            if operands and operands[-1][0] in ("str", "hex"):
                t = decode_pdf_string(operands[-1], font)
                emit(t)
                if font:
                    advance_x(font.string_width(t, font_size))
        elif op == "TJ":
            # one fragment per TJ op (the reference's granularity,
            # PdfToText.php:4475–4513): elements concatenate, kerning
            # offsets below −MIN_SPACE_WIDTH become separator spaces
            if operands and operands[-1][0] == "arr":
                parts: list[str] = []
                start_tm = tm
                for el in operands[-1][1]:
                    if el[0] in ("str", "hex"):
                        t = decode_pdf_string(el, font)
                        parts.append(t)
                        if font:
                            advance_x(font.string_width(t, font_size))
                    elif el[0] == "num":
                        if el[1] < -MIN_SPACE_WIDTH:
                            parts.append(" ")
                        advance_x(-el[1] / 1000.0 * font_size)
                if parts:
                    saved_tm = tm
                    tm = start_tm  # fragment anchored at the op start
                    emit("".join(parts))
                    tm = saved_tm
        operands.clear()

    return frags


def apply_text_markers(
    frags: list[Fragment],
    markers: list[tuple[str, str, str]],
) -> list[Fragment]:
    """Marker injection (X5, ``MarkTextLike``): for each
    ``(regex, start, end)``, the first fragment whose text matches
    binds its (font, font-height); every fragment sharing that binding
    gets wrapped in the start/end markers
    (PdfToText.php:2565–2573, applied 3701–3728, 5113–5154)."""
    if not markers or not frags:
        return frags
    compiled = [(re.compile(p), s, e) for p, s, e in markers]
    bindings: list[tuple[tuple[str, float], str, str]] = []
    for rx, start, end in compiled:
        for f in sorted(frags, key=lambda f: f.seq):
            if rx.search(f.text):
                bindings.append(((f.font, f.font_height), start, end))
                break
    if not bindings:
        return frags
    out = []
    for f in frags:
        text = f.text
        for key, start, end in bindings:
            if (f.font, f.font_height) == key:
                text = f"{start}{text}{end}"
        if text is not f.text:
            f = Fragment(f.page, f.seq, f.x, f.y, f.font_height, f.font, text, f.width)
        out.append(f)
    return out


def assemble_fragments(frags: list[Fragment]) -> str:
    """Line assembly (L2–L4, PdfToText.php:5054–5224).

    Sort by (y desc, x asc, seq asc); start a new line when
    ``y + font_height < last_y`` (session-gap grouping on y,
    PdfToText.php:5198–5224); within a line, a gap between the running
    x and the fragment's x inserts one space (PdfToText.php:5054–5169).
    """
    if not frags:
        return ""
    ordered = sorted(frags, key=lambda f: (-f.y, f.x, f.seq))
    lines: list[list[Fragment]] = []
    last_y: float | None = None
    for f in ordered:
        if last_y is None or f.y + f.font_height < last_y:
            lines.append([f])
            last_y = f.y
        else:
            lines[-1].append(f)
    rendered: list[str] = []
    for line in lines:
        line.sort(key=lambda f: (f.x, f.seq))
        parts: list[str] = []
        cur_x: float | None = None
        for f in line:
            if cur_x is not None and f.x > cur_x + 1.0 and parts and not parts[-1].endswith(" "):
                parts.append(" ")
            parts.append(f.text)
            cur_x = f.x + f.width
        rendered.append("".join(parts).rstrip())
    return "\n".join(rendered).strip("\n")
