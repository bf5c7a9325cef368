"""PDF stream filter decoders (SURVEY.md §2.3, D1–D7).

Reference parity notes (all citations ``PdfToText.php:LINE``):

- filter detection enum        -> :func:`detect_filters`   (328–373)
- FlateDecode                  -> :func:`flate_decode`     (2763–2780)
- LZWDecode                    -> :func:`lzw_decode`       (2812–2908)
- ASCIIHexDecode               -> :func:`ascii_hex_decode` (2913–2965)
- ASCII85Decode                -> :func:`ascii85_decode`   (2970–3035)
- post-A85 gzip sniff          -> handled in :func:`decode_stream` (2793–2796)
- RLE/CCITT/JBIG2/JPX          -> unsupported, reported as decode
  failures, matching the reference's warn-and-skip (358–369). We *do*
  implement RunLengthDecode (it is trivial and lossless) but still flag
  CCITT/JBIG2/JPX as unsupported.
- RC4/encryption               -> never decrypted; `/Encrypt` presence
  marks the document undecodable, matching the reference's hardcoded
  ``return false`` in ``Decrypt()`` (9511–9520).
"""

from __future__ import annotations

import itertools
import re
import zlib

FILTER_NONE = 0
FILTER_FLATE = 1
FILTER_ASCIIHEX = 2
FILTER_ASCII85 = 3
FILTER_LZW = 4
FILTER_RUNLENGTH = 5
FILTER_DCT = 6  # JPEG passthrough (image data, not text)
FILTER_UNSUPPORTED = 99

_FILTER_ALIASES = {
    b"FlateDecode": FILTER_FLATE,
    b"Fl": FILTER_FLATE,
    b"ASCIIHexDecode": FILTER_ASCIIHEX,
    b"AHx": FILTER_ASCIIHEX,
    b"ASCII85Decode": FILTER_ASCII85,
    b"A85": FILTER_ASCII85,
    b"LZWDecode": FILTER_LZW,
    b"LZW": FILTER_LZW,
    b"RunLengthDecode": FILTER_RUNLENGTH,
    b"RL": FILTER_RUNLENGTH,
    b"DCTDecode": FILTER_DCT,
    b"DCT": FILTER_DCT,
    b"CCITTFaxDecode": FILTER_UNSUPPORTED,
    b"CCF": FILTER_UNSUPPORTED,
    b"JBIG2Decode": FILTER_UNSUPPORTED,
    b"JPXDecode": FILTER_UNSUPPORTED,
}

# /Filter /Name  or  /Filter [/N1 /N2]
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[([^\]]*)\]|/([A-Za-z0-9]+))")
_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")


class DecodeError(Exception):
    """A stream body could not be decoded."""


def detect_filters(object_dict: bytes) -> list[int]:
    """Return the ordered filter chain declared in an object dictionary.

    Mirrors ``GetEncodingType`` (PdfToText.php:328–373) but supports
    filter *arrays* (chained filters), which the reference handles by
    scanning filter names in order.
    """
    m = _FILTER_RE.search(object_dict)
    if not m:
        return [FILTER_NONE]
    if m.group(2) is not None:
        names = [m.group(2)]
    else:
        names = _NAME_RE.findall(m.group(1))
    return [_FILTER_ALIASES.get(n, FILTER_UNSUPPORTED) for n in names]


def flate_decode(data: bytes) -> bytes:
    """Inflate a FlateDecode stream (PdfToText.php:2763–2780).

    Tries zlib-wrapped first, then raw deflate, then gzip wrapping,
    then a truncated-tail salvage via decompressobj — the reference
    similarly retries before declaring failure.
    """
    for wbits in (15, -15, 47):
        try:
            return zlib.decompress(data, wbits)
        except zlib.error:
            pass
    # salvage a truncated stream: decompress as much as possible
    try:
        d = zlib.decompressobj()
        out = d.decompress(data)
        if out:
            return out
    except zlib.error:
        pass
    raise DecodeError("FlateDecode failed")


def ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (PdfToText.php:2913–2965).

    Whitespace is ignored, ``>`` terminates, an odd trailing nibble is
    padded with 0 per the PDF spec (and the reference).
    """
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    hexdigits = data.translate(None, b" \t\n\r\x0b\x0c")
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        raise DecodeError("ASCIIHexDecode: invalid character") from None


def _a85_decode_numpy(data: bytes) -> bytes | None:
    """Vectorized Ascii85 body decode (no ``z`` shorthand, no guards).
    Returns None when the input needs the tolerant per-char loop."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size == 0:
        return b""
    if arr.size % 5 == 1:
        return None  # single trailing digit — let the strict loop raise
    if ((arr < 0x21) | (arr > 0x75)).any():
        return None
    vals = (arr - np.uint8(0x21)).astype(np.uint64)
    pad = (5 - vals.size % 5) % 5
    if pad:
        vals = np.concatenate([vals, np.full(pad, 84, dtype=np.uint64)])
    groups = vals.reshape(-1, 5)
    weights = np.array([85**4, 85**3, 85**2, 85, 1], dtype=np.uint64)
    n = (groups * weights).sum(axis=1)
    if (n > 0xFFFFFFFF).any():
        return None  # group overflow: invalid stream, strict loop raises
    out = n.astype(">u4").tobytes()
    return out[: len(out) - pad] if pad else out


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PdfToText.php:2970–3035).

    Handles optional ``<~ ~>`` guards, the ``z`` shorthand for four NUL
    bytes and partial trailing groups.
    """
    data = data.strip()
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    data = data.translate(None, b" \t\n\r\x0b\x0c")
    # fast path: vectorized base-85 (stdlib a85decode is pure Python
    # and was the top filter cost on a85-heavy corpora); streams using
    # the 'z' shorthand or with invalid chars fall to the strict loop
    if b"z" not in data:
        decoded = _a85_decode_numpy(data)
        if decoded is not None:
            return decoded
    out = bytearray()
    group: list[int] = []
    for ch in data:
        if ch == 0x7A:  # 'z'
            if group:
                raise DecodeError("ASCII85Decode: z inside group")
            out.extend(b"\x00\x00\x00\x00")
            continue
        if not (0x21 <= ch <= 0x75):
            raise DecodeError("ASCII85Decode: invalid character")
        group.append(ch - 0x21)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            out.extend(n.to_bytes(4, "big"))
            group = []
    if group:
        # partial group: pad with 'u' (84), emit len-1 bytes
        k = len(group)
        if k == 1:
            raise DecodeError("ASCII85Decode: single trailing digit")
        padded = group + [84] * (5 - k)
        n = 0
        for g in padded:
            n = n * 85 + g
        out.extend(n.to_bytes(4, "big")[: k - 1])
    return bytes(out)


# LZW base dictionary: 256 single-byte entries + placeholders for the
# clear (256) and EOD (257) control codes, so appends start at 258
_LZW_BASE: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
# Code widths of one table segment (the stream start, or a clear code
# up to the next one). Its first code adds no entry and every later
# code adds one, and the width grows right after the add that brings
# the table to 511/1023/2047 entries (PDF EarlyChange=1, the
# reference's DictionaryLengths checked post-increment,
# PdfToText.php:2836–2841): so a segment is 254 codes of 9 bits, 512
# of 10, 1024 of 11, then 12 bits to its end, unpacked in steps of
# _LZW_STEP codes.
_LZW_RUNS = ((9, 254), (10, 512), (11, 1024))
_LZW_STEP = 4096


def _lzw_codes(data: bytes, pos: int, width: int, count: int) -> tuple[list[int], int]:
    """Up to ``count`` big-endian codes of ``width`` bits from bit
    ``pos`` of ``data``, cut before the first clear or EOD code, and
    that code (0 when there is none). Each code lies within the 24
    bits that start at its first byte (width <= 12, offset <= 7)."""
    import numpy as np

    first = pos >> 3
    last = (pos + count * width + 7) >> 3
    buf = np.frombuffer(data[first:last] + b"\x00\x00", dtype=np.uint8).astype(np.uint32)
    bit = np.arange(count, dtype=np.uint32) * width + (pos & 7)
    at = bit >> 3
    word = (buf[at] << 16) | (buf[at + 1] << 8) | buf[at + 2]
    codes = (word >> (24 - width - (bit & 7))) & ((1 << width) - 1)
    control = np.flatnonzero((codes == 256) | (codes == 257))
    if control.size:
        return codes[: control[0]].tolist(), int(codes[control[0]])
    return codes.tolist(), 0


def lzw_decode(data: bytes) -> bytes:
    """LZWDecode: variable 9→12-bit codes, clear=256, EOD=257
    (PdfToText.php:2812–2908, same dictionary-growth thresholds).

    The widths follow from the position in the table segment (see
    :data:`_LZW_RUNS`), so each fixed-width run is unpacked at once and
    only the table build runs per code. Trailing bits shorter than a
    code are ignored; a stream without EOD ends at its last whole code.
    """
    out = bytearray()
    extend = out.extend
    total = len(data) * 8
    pos = 0  # bit offset of the next code
    while True:  # one table segment per pass
        # dictionary as a dense list (codes are consecutive ints — a
        # dict pays hashing per code; the base is built once)
        table = _LZW_BASE.copy()
        append = table.append
        prev: bytes | None = None
        for width, count in itertools.chain(_LZW_RUNS, itertools.repeat((12, _LZW_STEP))):
            count = min(count, (total - pos) // width)
            if count <= 0:
                return bytes(out)
            codes, control = _lzw_codes(data, pos, width, count)
            read = len(codes) + (control != 0)  # codes this run consumed
            if prev is None and codes:  # a segment's first code adds no entry
                if codes[0] >= 258:
                    raise DecodeError("LZWDecode: bad first code")
                prev = table[codes[0]]
                extend(prev)
                codes = codes[1:]
            n_table = len(table)
            for code in codes:
                if code < n_table:
                    entry = table[code]
                    append(prev + entry[:1])
                elif code == n_table:
                    entry = prev + prev[:1]
                    append(entry)
                else:
                    raise DecodeError("LZWDecode: code out of range")
                n_table += 1
                extend(entry)
                prev = entry
            if control == 257:  # EOD
                return bytes(out)
            pos += read * width
            if control == 256:  # clear table: a new segment
                break


def run_length_decode(data: bytes) -> bytes:
    """RunLengthDecode per PDF spec §7.4.5.

    The reference declines to implement this (PdfToText.php:358–369);
    we support it because it costs ~15 lines and is lossless, and note
    the divergence here for the parity audit.
    """
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out.extend(data[i + 1 : i + 2 + length])
            i += 2 + length
        else:
            if i + 1 >= n:
                raise DecodeError("RunLengthDecode: truncated run")
            out.extend(data[i + 1 : i + 2] * (257 - length))
            i += 2
    return bytes(out)


def decode_stream(object_dict: bytes, body: bytes) -> bytes:
    """Decode a stream body through its declared filter chain.

    Mirrors ``DecodeData`` (PdfToText.php:2757–2808) including the
    opportunistic inflate after ASCII85 (2793–2796).
    Raises :class:`DecodeError` for unsupported/broken filters.
    """
    out = body
    filters = detect_filters(object_dict)
    for i, f in enumerate(filters):
        if f == FILTER_NONE:
            continue
        if f == FILTER_FLATE:
            out = flate_decode(out)
        elif f == FILTER_ASCIIHEX:
            out = ascii_hex_decode(out)
        elif f == FILTER_ASCII85:
            out = ascii85_decode(out)
            # lone A85 wrapping a deflate payload: sniff and inflate
            if i == len(filters) - 1 and out[:2] in (b"\x78\x9c", b"\x78\x01", b"\x78\xda"):
                try:
                    out = flate_decode(out)
                except DecodeError:
                    pass
        elif f == FILTER_LZW:
            out = lzw_decode(out)
        elif f == FILTER_RUNLENGTH:
            out = run_length_decode(out)
        elif f == FILTER_DCT:
            # JPEG image data passes through untouched (PdfToText.php:8793–8805)
            return out
        else:
            raise DecodeError("unsupported filter")
    return out
