"""Unit tests for stream filter decoders (SURVEY.md §2.3 D1–D6)."""

import zlib

import pytest

from pdftotext_spark.core import filters
from pdftotext_spark.sources.pdfbuilder import _a85_encode, _lzw_encode

PAYLOADS = [
    b"",
    b"hello world",
    b"a" * 10_000,
    bytes(range(256)) * 37,
    b"BT /F1 12 Tf (text) Tj ET\n" * 200,
]


@pytest.mark.parametrize("data", PAYLOADS)
def test_flate_roundtrip(data):
    assert filters.flate_decode(zlib.compress(data)) == data


def test_flate_raw_deflate():
    co = zlib.compressobj(wbits=-15)
    raw = co.compress(b"raw deflate body") + co.flush()
    assert filters.flate_decode(raw) == b"raw deflate body"


@pytest.mark.parametrize("data", PAYLOADS)
def test_lzw_roundtrip(data):
    assert filters.lzw_decode(_lzw_encode(data)) == data


def test_lzw_dict_growth_past_9_bits():
    # enough distinct digrams to push codes past 511 (10-bit growth)
    data = bytes((i * 7 + j) % 256 for i in range(200) for j in range(17))
    assert filters.lzw_decode(_lzw_encode(data)) == data


def _lzw_encode_spec(data: bytes) -> bytes:
    """Independent spec-convention LZW encoder for parity testing.

    Structurally different from pdfbuilder's encoder on purpose: the
    code width is *derived* from the table size at every emission
    (pdf.js-style ``earlyChange=1``: a code is written with
    ``ceil(log2(next_code + 1))`` bits, clamped to [9, 12]), rather
    than maintained incrementally. Real-world PDF producers
    (Acrobat/TIFF convention) interoperate with decoders that widen
    post-add at 511/1023/2047 — exactly the reference's
    DictionaryLengths table (PdfToText.php:2836–2841).
    """
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258

    def width() -> int:
        # earlyChange=1: reserve one code slot (the decoder trails by
        # one pending entry), hence next_code + 1
        n = next_code + 1
        w = 9
        while (1 << w) < n and w < 12:
            w += 1
        return w

    bits: list[str] = [format(256, "09b")]
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        bits.append(format(table[w], f"0{width()}b"))
        if next_code < 4095:
            table[wc] = next_code
            next_code += 1
        w = bytes([b])
    if w:
        bits.append(format(table[w], f"0{width()}b"))
        next_code += 1  # decoder's phantom entry for the final code
    bits.append(format(257, f"0{width()}b"))
    s = "".join(bits)
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


@pytest.mark.parametrize("n", [200, 253, 254, 255, 300, 1000, 2500])
def test_lzw_spec_convention_parity(n):
    # streams produced by an INDEPENDENT spec-convention encoder must
    # decode correctly across the 9->10 and 10->11 bit boundaries
    # (regression: decoder used to widen one entry early, failing real
    # Acrobat-convention streams with 'code out of range')
    data = bytes((i * 7 + j) % 256 for i in range(n) for j in range(17))
    assert filters.lzw_decode(_lzw_encode_spec(data)) == data


@pytest.mark.parametrize("n", [250, 251, 252, 253, 254, 255, 256, 257, 258])
def test_lzw_own_encoder_matches_spec_encoder_bitstream(n):
    # both encoders implement the same convention -> identical bytes
    data = bytes((i * 11 + j) % 256 for i in range(n) for j in range(13))
    assert _lzw_encode(data) == _lzw_encode_spec(data)


def _lzw_decode_reference(data: bytes) -> bytes:
    """The per-byte LZW decoder that ``filters.lzw_decode`` replaced,
    kept as its oracle: it shifts each byte into a bit buffer and reads
    codes at the current width, widening post-add at 511/1023/2047."""
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    code_len = 9
    prev = None
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= code_len:
            nbits -= code_len
            code = (bitbuf >> nbits) & ((1 << code_len) - 1)
            if code == 256:
                del table[258:]
                code_len = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            n_table = len(table)
            if code < n_table:
                entry = table[code]
            elif prev is not None and code == n_table:
                entry = prev + prev[:1]
            elif prev is None:
                raise filters.DecodeError("LZWDecode: bad first code")
            else:
                raise filters.DecodeError("LZWDecode: code out of range")
            out.extend(entry)
            if prev is not None:
                table.append(prev + entry[:1])
                if n_table + 1 == (1 << code_len) - 1 and code_len < 12:
                    code_len += 1
            prev = entry
    return bytes(out)


def _lzw_pack(codes: list[int], tail: str = "") -> bytes:
    """Write ``codes`` at the widths a decoder reads them (one table
    entry per code after a segment's first, widening post-add at
    511/1023/2047), then the ``tail`` bits, zero-padded to a byte."""
    bits = []
    n_table, width, first = 258, 9, True
    for c in codes:
        bits.append(format(c, f"0{width}b"))
        if c == 256:
            n_table, width, first = 258, 9, True
            continue
        if not first:
            n_table += 1
            if n_table == (1 << width) - 1 and width < 12:
                width += 1
        first = False
    s = "".join(bits) + tail
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


def _lzw_outcome(decode, data: bytes):
    try:
        return decode(data)
    except filters.DecodeError as e:
        return ("DecodeError", str(e))


def _literals(n: int, start: int = 0) -> list[int]:
    return [(start + i * 7) % 256 for i in range(n)]


LZW_PARITY_CASES = {
    "clear_mid_run": [256, 65, 66, 258, 256, 67, 68, 258, 257],
    # 254 codes fill the 9-bit run; the clear is the first 10-bit code
    "clear_first_10_bit_code": _literals(254) + [256, 67, 68, 257],
    "clear_last_9_bit_code": _literals(253) + [256, 67, 68, 257],
    "clear_first_11_bit_code": _literals(766) + [256, 67, 68, 257],
    "clear_first_12_bit_code": _literals(1790) + [256, 67, 68, 257],
    "clear_twice": [256, 256, 65, 256, 66, 257],
    "no_eod": [65, 66, 258, 67],
    "no_eod_past_9_bits": _literals(600),
    "kwkwk": [65, 258, 259, 257],
    "kwkwk_after_clear": _literals(300) + [256, 66, 258, 257],
    "bad_first_code": [258, 65, 257],
    "bad_first_code_after_clear": [65, 66, 256, 300, 257],
    "code_out_of_range": [65, 66, 400, 257],
    "code_out_of_range_at_10_bits": _literals(260) + [600, 257],
    "past_2047_entries": _literals(3000) + [257],
    "past_4095_entries": _literals(5000) + [1000, 4000, 257],
    "eod_first": [257, 65],
    "empty": [],
}


@pytest.mark.parametrize("tail", ["", "1", "10110", "1111111"])
@pytest.mark.parametrize("name", sorted(LZW_PARITY_CASES))
def test_lzw_matches_reference_decoder(name, tail):
    data = _lzw_pack(LZW_PARITY_CASES[name], tail)
    assert _lzw_outcome(filters.lzw_decode, data) == _lzw_outcome(_lzw_decode_reference, data)


def test_lzw_parity_cases_cover_both_errors_and_output():
    outcomes = [_lzw_outcome(_lzw_decode_reference, _lzw_pack(c)) for c in LZW_PARITY_CASES.values()]
    assert ("DecodeError", "LZWDecode: bad first code") in outcomes
    assert ("DecodeError", "LZWDecode: code out of range") in outcomes
    assert sum(isinstance(o, bytes) and len(o) > 1500 for o in outcomes) >= 3


def test_lzw_matches_reference_decoder_on_encoded_and_damaged_streams():
    import random

    rng = random.Random(11)
    for n in (10, 300, 1200, 5000, 40_000):
        text = bytes(rng.choice(b"abcdefgh \n") for _ in range(n))
        for enc in (_lzw_encode(text), _lzw_encode_spec(text)):
            assert filters.lzw_decode(enc) == _lzw_decode_reference(enc) == text
            for _ in range(20):
                bad = bytearray(enc)
                bad[rng.randrange(len(bad))] ^= 1 << rng.randrange(8)
                cut = bytes(bad[: rng.randrange(1, len(bad) + 1)])
                for case in (bytes(bad), cut):
                    assert _lzw_outcome(filters.lzw_decode, case) == _lzw_outcome(
                        _lzw_decode_reference, case
                    )
    for _ in range(200):
        noise = bytes(rng.randrange(256) for _ in range(rng.randrange(64)))
        assert _lzw_outcome(filters.lzw_decode, noise) == _lzw_outcome(_lzw_decode_reference, noise)


def test_ascii_hex():
    assert filters.ascii_hex_decode(b"48 65 6C6C 6F>") == b"Hello"
    # odd trailing nibble pads with 0 (PdfToText.php:2913–2965)
    assert filters.ascii_hex_decode(b"7>") == b"\x70"
    with pytest.raises(filters.DecodeError):
        filters.ascii_hex_decode(b"4G>")


@pytest.mark.parametrize("data", PAYLOADS)
def test_ascii85_roundtrip(data):
    assert filters.ascii85_decode(_a85_encode(data)) == data


def test_ascii85_z_shorthand():
    assert filters.ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"


def test_run_length():
    # literal run: length 2 → copy 3 bytes; repeat run: 257-254=3 copies
    assert filters.run_length_decode(b"\x02abc\xfeX\x80") == b"abcXXX"


def test_detect_filters_chain():
    assert filters.detect_filters(b"<< /Filter [/ASCII85Decode /FlateDecode] >>") == [
        filters.FILTER_ASCII85,
        filters.FILTER_FLATE,
    ]
    assert filters.detect_filters(b"<< /Filter /FlateDecode >>") == [filters.FILTER_FLATE]
    assert filters.detect_filters(b"<< /Length 3 >>") == [filters.FILTER_NONE]
    assert filters.detect_filters(b"<< /Filter /JBIG2Decode >>") == [
        filters.FILTER_UNSUPPORTED
    ]


def test_decode_stream_chained():
    body = b"chained filters payload"
    enc = _a85_encode(zlib.compress(body))
    out = filters.decode_stream(
        b"<< /Filter [/ASCII85Decode /FlateDecode] >>", enc
    )
    assert out == body


def test_decode_stream_a85_gzip_sniff():
    # lone A85 whose payload is zlib-wrapped → opportunistic inflate
    # (PdfToText.php:2793–2796)
    body = b"sniffed deflate"
    enc = _a85_encode(zlib.compress(body))
    assert filters.decode_stream(b"<< /Filter /ASCII85Decode >>", enc) == body


def test_unsupported_filter_raises():
    with pytest.raises(filters.DecodeError):
        filters.decode_stream(b"<< /Filter /CCITTFaxDecode >>", b"xx")
