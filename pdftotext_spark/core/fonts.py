"""Font table + per-font character decoding (SURVEY.md §2.4 F1–F15).

Per document this is a dimension-table build plus a hash join
``(font_id, char_code) → unicode`` — kept as plain dicts inside the
pandas UDF, with per-(font,char) memo buffers mirroring the
reference's caches (PdfToText.php:6116–6121, 6326–6353).

Encoding classification order follows ``AddFont``
(PdfToText.php:6135–6198): Identity-H CID, /ToUnicode n 0 R,
/Encoding (inline dict or indirect), /WinAnsiEncoding,
/MacRomanEncoding, else standard.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pdftotext_spark.core.cmaps import (
    EncodingMap,
    ToUnicodeCMap,
    base_encoding_char,
)

_BASEFONT_RE = re.compile(rb"/BaseFont\s*/([^\s/<>\[\]()]+)")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_ENCODING_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")
_ENCODING_INLINE_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.S)
# reference parity (PdfToText.php:6165): '/(Base)?Encoding /Identity-H'
# matched case-insensitively with flexible whitespace; we additionally
# accept Identity-V (vertical) — same CID decode semantics, the
# reference simply lacks it
_IDENTITY_H_RE = re.compile(rb"/(?:Base)?Encoding\s*/Identity-[HV]", re.I)
_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_DESCENDANT_RE = re.compile(rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R")
_ORDERING_RE = re.compile(rb"/Ordering\s*\(\s*([^)]*?)\s*\)")
_WIDTHS_RE = re.compile(rb"/Widths\s*\[([^\]]*)\]")
_MISSING_WIDTH_RE = re.compile(rb"/MissingWidth\s+(\d+(?:\.\d+)?)")
# /FontMatrix [a b c d e f]: 'a' scales glyph-space widths to text
# space; width_em = w * a * 1000 (PdfToText.php:6549–6552 — the
# reference's integer-only regex zeroes out fractional matrices like
# Type3's usual [0.001 ...]; we parse the float, which is what its
# `1000 * multiplier` formula intends)
_FONTMATRIX_RE = re.compile(rb"/FontMatrix\s*\[\s*(-?\d*\.?\d+)")
_CHARPROCS_RE = re.compile(rb"/CharProcs\s*<<(.*?)>>", re.S)
# reference variant gate (PdfToText.php:6185): subset-prefixed
# BaseFont whose name part contains "Cyr", case-insensitive
_CYR_VARIANT_RE = re.compile(
    rb"/BaseFont\s*/[a-z0-9_]+\+[a-z0-9_]+?Cyr", re.I
)
# <</F1 26 0 R /F2 27 0 R>> style alias maps (PdfToText.php:169–180)
FONT_ALIAS_RE = re.compile(rb"/([A-Za-z0-9.#_+-]+)\s+(\d+)\s+\d+\s+R")

DEFAULT_CHAR_WIDTH = 500.0  # 1/1000 em units when no /Widths present
# placeholder for unmappable codes (reference: configurable, default '')
UNKNOWN_CHAR = ""


_TYPE_FONT_RE = re.compile(rb"/Type\s*/Font\b")
# `<</F1 26 0 R …>>` style alias dicts (F- or R-prefixed aliases, the
# two conventions seen in the wild) or an inline /Font resource dict
_FONTMAP_RE = re.compile(
    rb"<<\s*/[FR][A-Za-z0-9]*\s+\d+\s+\d+\s+R|/Font\s*<<"
)


def is_font(body: bytes) -> bool:
    """``IsFont`` (PdfToText.php:529–537): /Type/Font or /BaseFont,
    excluding FontDescriptors."""
    if b"Font" not in body:  # C-level gate: runs per object per doc
        return False
    has_type_font = _TYPE_FONT_RE.search(body) is not None
    if b"/FontDescriptor" in body and not has_type_font:
        return False
    return has_type_font or b"/BaseFont" in body


def is_font_map(body: bytes) -> bool:
    """``IsFontMap`` (PdfToText.php:564–572): a dict of font aliases."""
    return _FONTMAP_RE.search(body) is not None


@dataclass
class Font:
    obj_id: int
    base_font: str = ""
    encoding: str = "standard"  # standard|winansi|macroman|cid
    cid: bool = False
    tounicode_ref: int | None = None
    encoding_ref: int | None = None
    cmap: ToUnicodeCMap | None = None
    encoding_map: EncodingMap | None = None
    first_char: int = 0
    widths: list[float] = field(default_factory=list)
    missing_width: float = DEFAULT_CHAR_WIDTH
    # standard-14 metric fallback (decoded-char keyed, core/stdfonts.py)
    std_widths: dict[int, float] | None = None
    # /FontMatrix width scale (Type3), applied to embedded /Widths
    width_matrix_mult: float = 1.0
    # Type3 /CharProcs present: embedded widths are re-keyed through
    # /Differences (PdfToText.php:6524–6543, 6560–6572)
    has_charprocs: bool = False
    _char_widths: dict[int, float] | None = None
    _memo: dict[int, str] = field(default_factory=dict)
    _width_memo: dict[str, float] = field(default_factory=dict)
    _translate_table: dict[int, str] | None = None
    _cid_map: object | None = None  # lazily-resolved cidmaps.CIDMap
    _alt_pending: int | None = None  # reference ALT_CID prefix state
    # per-document override tables (from ExtractOptions.cid_tables),
    # injected by FontTable — scoped to this extraction call, never the
    # process-global cidmaps registry
    _cid_overrides: dict | None = None
    # /CIDSystemInfo character collection (Type0 fonts): the
    # /DescendantFonts CIDFont ref and the resolved /Ordering name
    # ("Japan1", ...) — selects the registered-ordering CID table when
    # no variant override matches (core/cjk_cid.py)
    descendant_ref: int | None = None
    cid_ordering: str = ""

    @property
    def code_width(self) -> int:
        """Bytes per character code in hex strings."""
        if self.cmap is not None and self.cmap.code_width > 1:
            return self.cmap.code_width
        return 2 if self.cid else 1

    def map_char(self, code: int) -> str:
        """(font, code) → text, memoized (PdfToText.php:6326–6353).

        Order: ToUnicode CMap, then /Differences, then the secondary
        base-encoding overlay (F14, PdfToText.php:6584–6615), then the
        raw code point.
        """
        hit = self._memo.get(code)
        if hit is not None:
            # resolving through any non-CID path discharges a dangling
            # ALT_CID prefix (stateful CID lookups bypass the memo, so
            # a memo hit is always a non-stateful resolution)
            self._alt_pending = None
            return hit
        out: str | None = None
        if self.cmap is not None:
            out = self.cmap.lookup(code)
        if out is None and self.encoding_map is not None:
            out = self.encoding_map.lookup(code)
            if out is None and self.encoding_map.base != "standard":
                out = base_encoding_char(self.encoding_map.base, code)
        if out is None:
            if self.cid:
                # Identity-H without usable ToUnicode: resolve through
                # the CID-table cascade (variant override → default
                # MS-standard-order table), reference parity with the
                # external .cid lookup (PdfToText.php:7685–7925);
                # unmapped CIDs drop to '' like the reference's
                # UNKNOWN_CID path (7866–7875)
                m = self._get_cid_map()
                if m.alt:
                    # accent-prefix tables are stateful: bypass the memo
                    return self._cid_lookup_stateful(m, code)
                out = m.lookup(code)
            elif self.encoding in ("winansi", "winansi-cyr", "macroman"):
                out = base_encoding_char(self.encoding, code)
            elif 0 <= code < 0x110000:
                out = chr(code)
            else:
                out = UNKNOWN_CHAR
        # any non-stateful resolution (cmap / encoding map / base
        # encoding / raw codepoint) clears a pending ALT_CID prefix so
        # a partial-ToUnicode font can't mis-route a later CID through
        # the accent sub-table
        self._alt_pending = None
        self._memo[code] = out
        return out

    def _get_cid_map(self):
        if self._cid_map is None:
            from pdftotext_spark.core.cidmaps import lookup_cid_map

            self._cid_map = lookup_cid_map(
                self.base_font, self._cid_overrides, self.cid_ordering
            )
        return self._cid_map

    def _cid_lookup_stateful(self, m, code: int) -> str:
        """ALT_CID prefix semantics (PdfToText.php:7877–7901): a prefix
        CID emits nothing and routes the next CID through its accent
        sub-table; a missing alt entry drops to ''."""
        if code in m.alt:
            self._alt_pending = code
            return ""
        pending, self._alt_pending = self._alt_pending, None
        if pending is not None:
            return m.alt[pending].get(code, "")
        return m.lookup(code)

    _decoded_bytes: int = 0

    @property
    def is_trivial(self) -> bool:
        """No cmap, no differences, standard base encoding: decoding
        is byte-identity (chr(b) == latin-1)."""
        return (
            self.cmap is None
            and self.encoding_map is None
            and self.encoding == "standard"
        )

    def decode_single_bytes(self, data: bytes) -> str:
        """Adaptive 1-byte decode. Trivial fonts decode as straight
        latin-1 (C speed, provably equal to per-char map_char); mapped
        fonts stay on the per-char memo until >512 bytes, then a full
        256-entry ``str.translate`` table takes over — the reference's
        per-(font,char) memo buffer (PdfToText.php:6116–6121) taken to
        its limit."""
        if self.is_trivial:
            return data.decode("latin-1")
        tbl = self._translate_table
        if tbl is not None:
            return data.decode("latin-1").translate(tbl)
        self._decoded_bytes += len(data)
        if self._decoded_bytes > 512:
            tbl = {b: self.map_char(b) for b in range(256)}
            self._translate_table = tbl
            return data.decode("latin-1").translate(tbl)
        mc = self.map_char
        return "".join(map(mc, data))

    def _build_char_widths(self) -> dict[int, float]:
        """Reference width-table build (PdfToText.php:6459–6577):
        standard-14 metrics first, embedded /Widths overwrite their
        code range (zero entries → /MissingWidth default; values scale
        by the /FontMatrix multiplier; a Type3 /CharProcs font re-keys
        each code through its /Differences decoded char so lookup by
        decoded text works, PdfToText.php:6560–6572)."""
        cw: dict[int, float] = dict(self.std_widths) if self.std_widths else {}
        diffs = (
            self.encoding_map.diffs
            if (self.has_charprocs and self.encoding_map is not None)
            else None
        )
        mult = self.width_matrix_mult
        from pdftotext_spark.core.glyphs import UNKNOWN_GLYPH

        names = (
            self.encoding_map.diff_names if diffs is not None else {}
        )
        for i, w in enumerate(self.widths):
            code = self.first_char + i
            if diffs is not None:
                decoded = diffs.get(code)
                # re-key only when the glyph name actually RESOLVED —
                # otherwise every unresolvable charproc would collapse
                # onto ord('?'), overwriting one another (review r4;
                # the reference re-keys only resolved Encodings
                # entries, PdfToText.php:6570–6572). '?' is ambiguous
                # (UNKNOWN_GLYPH sentinel vs a real /question glyph),
                # so consult the raw name for that one case.
                if decoded and (
                    decoded != UNKNOWN_GLYPH
                    or names.get(code) == "question"
                ):
                    code = ord(decoded[0])
            elif not self.cid:
                # ADVICE r4: embedded /Widths are CODE-keyed in the
                # PDF, but char_width() is called with DECODED chars
                # (string_width iterates decoded text) — re-key every
                # entry through the font's own decode cascade so
                # WinAnsi 0x80–0x9F, the Cyrillic variant's 0xC0–0xFF
                # and non-Type3 /Differences land on the codepoints
                # lookups actually use, and raw-code keys stop
                # shadowing std-AFM codepoint entries. (The reference
                # itself misses these — GetStringWidth looks up the
                # decoded char against its code-keyed table,
                # PdfToText.php:6641–6680 — so this is a deliberate
                # correctness improvement, not a parity break; it
                # affects layout spacing only, never text.) '?' is the
                # UNKNOWN sentinel: accept it only for the real
                # question-mark code, or unknowns would collapse onto
                # one key and overwrite each other (the r4 Type3
                # lesson above). Multi-char decodes (ToUnicode
                # ligature expansions 'fi'/'fl') are SKIPPED entirely:
                # keyed at ord('f') the ligature advance clobbers the
                # letter width, and keyed at the raw code it shadows
                # whatever codepoint shares that number — and no
                # decoded-char lookup can ever reach it anyway
                # (review r5, both passes).
                decoded = self.map_char(code)
                if decoded and len(decoded) > 1:
                    continue
                if decoded and (decoded != "?" or code == 0x3F):
                    code = ord(decoded)
            cw[code] = w * mult if w else self.missing_width
        return cw

    def char_width(self, code: int) -> float:
        """Per-char advance in 1/1000 em, keyed by decoded character
        (PdfToText.php:6641–6680 ``GetStringWidth``)."""
        cw = self._char_widths
        if cw is None:
            cw = self._char_widths = self._build_char_widths()
        w = cw.get(code)
        return w if w is not None else self.missing_width

    def string_width(self, text: str, font_size: float) -> float:
        """Approximate rendered width (F15, PdfToText.php:6641–6680)."""
        w = self._width_memo.get(text)
        if w is None:
            w = sum(self.char_width(ord(c)) for c in text)
            self._width_memo[text] = w
        return w * font_size / 1000.0


def parse_font(obj_id: int, body: bytes) -> Font:
    """Classify one font object (F1, PdfToText.php:6135–6198)."""
    font = Font(obj_id)
    bm = _BASEFONT_RE.search(body)
    if bm:
        font.base_font = bm.group(1).decode("latin-1")
    if _IDENTITY_H_RE.search(body):
        font.cid = True
        font.encoding = "cid"
        dm = _DESCENDANT_RE.search(body)
        if dm:
            font.descendant_ref = int(dm.group(1))
        om = _ORDERING_RE.search(body)  # inline-flattened writers
        if om:
            font.cid_ordering = om.group(1).decode("latin-1")
    tm = _TOUNICODE_RE.search(body)
    if tm:
        font.tounicode_ref = int(tm.group(1))
    em = _ENCODING_REF_RE.search(body)
    if em and not font.cid:
        font.encoding_ref = int(em.group(1))
    else:
        im = _ENCODING_INLINE_RE.search(body)
        if im:
            font.encoding_map = EncodingMap.parse(im.group(0))
    if b"/WinAnsiEncoding" in body and font.encoding_map is None:
        # Cyrillic WinAnsi variant (PdfToText.php:6185–6186): a subset
        # BaseFont whose name part contains "Cyr" selects the
        # replacement table at PdfToText.php:7349–7417
        if _CYR_VARIANT_RE.search(body):
            font.encoding = "winansi-cyr"
        else:
            font.encoding = "winansi"
    elif b"/MacRomanEncoding" in body and font.encoding_map is None:
        font.encoding = "macroman"
    fm = _FIRSTCHAR_RE.search(body)
    if fm:
        font.first_char = int(fm.group(1))
    wm = _WIDTHS_RE.search(body)
    if wm:
        font.widths = [float(x) for x in re.findall(rb"-?\d+(?:\.\d+)?", wm.group(1))]
    mm = _MISSING_WIDTH_RE.search(body)
    if mm:
        font.missing_width = float(mm.group(1))
    fx = _FONTMATRIX_RE.search(body)
    if fx:
        font.width_matrix_mult = 1000.0 * float(fx.group(1))
    font.has_charprocs = _CHARPROCS_RE.search(body) is not None
    # standard-14 metric fallback (PdfToText.php:6469–6494 loads the
    # FontMetrics table for Type1 base-14 names; we also honor the
    # well-known metric-compatible aliases and don't require the
    # /Subtype gate — embedded /Widths still take precedence)
    if font.base_font and not font.cid:
        from pdftotext_spark.core.stdfonts import std_font_widths

        font.std_widths = std_font_widths(font.base_font)
    return font


class FontTable:
    """Per-document font registry (PdfToText.php:6109–6354).

    ``fonts``: object id → Font. ``alias_map``: alias (or
    ``"page:alias"`` page-local key, F3/G4) → object id.
    """

    def __init__(self, cid_overrides: dict | None = None) -> None:
        self.fonts: dict[int, Font] = {}
        self.alias_map: dict[str, int] = {}
        # per-document CID override tables (see Font._cid_overrides)
        self.cid_overrides = cid_overrides
        # raw font-object bodies, kept so a Type0 font can consult its
        # /DescendantFonts CIDFont dict for /CIDSystemInfo /Ordering
        self._bodies: dict[int, bytes] = {}

    def add_font(self, obj_id: int, body: bytes) -> None:
        font = parse_font(obj_id, body)
        font._cid_overrides = self.cid_overrides
        self.fonts[obj_id] = font
        self._bodies[obj_id] = body

    def add_alias_map(self, body: bytes, page: int | None = None) -> None:
        """Register ``<</F1 26 0 R>>`` aliases, optionally page-scoped
        (PdfToText.php:6210–6236)."""
        for m in FONT_ALIAS_RE.finditer(body):
            alias = m.group(1).decode("latin-1")
            oid = int(m.group(2))
            if page is not None:
                self.alias_map[f"{page}:{alias}"] = oid
            self.alias_map.setdefault(alias, oid)

    def attach_cmaps(self, decoded: dict[int, bytes]) -> None:
        """Resolve /ToUnicode and /Encoding indirections against the
        decoded-object map (PdfToText.php:1975–1976 → 6241).
        Idempotent: already-attached fonts are skipped (this runs once
        per page for page-local fonts)."""
        from pdftotext_spark.core.cmaps import (
            parse_encoding_cached,
            parse_tounicode_cached,
        )

        for font in self.fonts.values():
            if font.cid and not font.cid_ordering and font.descendant_ref:
                # /CIDSystemInfo usually sits inline in the descendant
                # CIDFont dict (itself classified as a font object);
                # fall back to the decoded-object map for odd writers
                dbody = self._bodies.get(font.descendant_ref) or decoded.get(
                    font.descendant_ref
                )
                if dbody:
                    om = _ORDERING_RE.search(dbody)
                    if om:
                        font.cid_ordering = om.group(1).decode("latin-1")
                        font._cid_map = None  # re-resolve with ordering
            if font.cmap is None and font.tounicode_ref is not None:
                body = decoded.get(font.tounicode_ref)
                if body is not None:
                    font.cmap = parse_tounicode_cached(body)
                    font._translate_table = None
            if font.encoding_map is None and font.encoding_ref is not None:
                body = decoded.get(font.encoding_ref)
                if body is not None:
                    font.encoding_map = parse_encoding_cached(body)
                    font.encoding = font.encoding_map.base
                    font._translate_table = None
                    # Type3 width re-keying depends on /Differences
                    font._char_widths = None
                    font._width_memo.clear()

    def resolve(self, alias: str, page: int | None = None) -> Font | None:
        oid = None
        if page is not None:
            oid = self.alias_map.get(f"{page}:{alias}")
        if oid is None:
            oid = self.alias_map.get(alias)
        if oid is None:
            return None
        return self.fonts.get(oid)

    def default_font(self) -> Font | None:
        return next(iter(self.fonts.values()), None)
