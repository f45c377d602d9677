"""The PDF kernel's bulk text path against its byte-at-a-time reading.

Each fast path is allowed only next to a test that compares it with the
slow path it replaces:

* ``_Parser.parse_object`` (one regex match for operators, numbers and
  names) against ``_Parser._parse_object`` (the full grammar), token by
  token and ``pos`` by ``pos``, on a table of edge cases and on random
  token streams;
* ``_Font.text_advance`` (``str.translate`` text, per-byte advance
  terms, one left fold) against the per-glyph loop, bit for bit;
* the whole kernel against digests of its output pinned before the
  bulk path existed: 200 mixed crawl pages as the benchmark builds
  them, and every ``encode_pdf`` variant with damaged copies.
"""

import hashlib
import random

import pytest
from hypothesis import given, settings, strategies as st

from gluon_ocr_spark.kernels import pdf
from gluon_ocr_spark.kernels.extract import extract_document
from gluon_ocr_spark.kernels.pdf import PdfStream, _Font, _Parser, encode_pdf, pdf_extract_text, pdf_text_lines
from gluon_ocr_spark.sources.pages import make_page

# ---------------------------------------------------------------------------
# tokens: parse_object vs _parse_object
# ---------------------------------------------------------------------------


def _typed(obj):
    """``obj`` with every value tagged by its type: ``True == 1 == 1.0``
    and ``Name("Tf") == "Tf"`` must not pass for equal tokens."""
    if isinstance(obj, list):
        return ("list", [_typed(x) for x in obj])
    if isinstance(obj, tuple):
        return ("tuple", [_typed(x) for x in obj])
    if isinstance(obj, dict):
        return ("dict", sorted((k, _typed(v)) for k, v in obj.items()))
    if isinstance(obj, float):
        return ("float", obj.hex())
    return (type(obj).__name__, obj)


class _SlowParser(_Parser):
    """Reads with the full grammar only, also inside arrays and dicts."""

    def parse_object(self):
        return self._parse_object()


def _tokens(data: bytes, slow: bool) -> list:
    """Every object of ``data`` with the ``pos`` after it, then the
    error that ended the stream and the final ``pos``."""
    p = (_SlowParser if slow else _Parser)(data)
    out = []
    while True:
        try:
            tok = p.parse_object()
        except Exception as e:  # noqa: BLE001 - the error type is part of the contract
            return out + [("error", type(e).__name__, p.pos)]
        out.append((_typed(tok), p.pos))


EDGE_CASES = [
    b"",
    b"   \n\t\x00\x0c",
    b"% only a comment",
    b"BT /F1 10 Tf 72 740 Td (Hello) Tj ET",
    b"0 -14 Td",
    b"1 0 0 1 72 700 Tm",
    b"BT 1 0 R Tj ET",
    b"1 0 R",
    b"1 2R",
    b"1 2 Rx",
    b"1 2 R/F1",
    b"1 2 R(x)",
    b"1 2.0 R",
    b"1 2. R",
    b"1 -2 R",
    b"1 +2 R",
    b"+1 0 R",
    b"-1 0 R",
    b"-0",
    b"-0 0 R",
    b"0 -0 R",
    b"0 -00 R",
    b"0 -01 R",
    b"+5",
    b"+5 R",
    b"12.",
    b"12. 0 R",
    b".5",
    b"-.5 +.25",
    b"1.2.3",
    b"--2",
    b"+x",
    b".",
    b"-",
    b"12abc",
    b"007 08",
    b"1 % comment\n 0 R",
    b"1 0 % comment\nR",
    b"72 %x\n740 Td",
    b"/F1%c\n10 Tf",
    b"/A#20B /F#31 12 Tf",
    b"/A#2",
    b"/A#",
    b"/#zz",
    b"/ /",
    b"/Name(s)",
    b"true false null truex nullable",
    b"T* ' \" d0 BI ID EI",
    b"\xff\xfe\x80 kw\xe9",
    b"(a(b)c)",
    b"(a\\(b)",
    b"(x\ry\r\nz)",
    b"(line\\\r\ncont\\\nmore)",
    b"(\\101\\7\\0123\\8\\n\\r\\t\\b\\f\\q)",
    b"(abc\\",
    b"(abc",
    b"(a(b)",
    b"(\r",
    b"(\r\n)",
    b"()",
    b"[(a) -250 (b c) 120.5 (d)] TJ",
    b"[1 0 R 2 0 R 3]",
    b"[1 2",
    b"<< /Length 5 /Kids [1 0 R] >>",
    b"<< /Length 5 >>stream\r\nabc",
    b"<4142 43>",
    b"<41",
    b"<zz>",
    b"]",
    b")",
    b"{ }",
    b">>",
    b"5 0 obj << /Type /Page >> endobj",
]


@pytest.mark.parametrize("data", EDGE_CASES, ids=[repr(d)[:40] for d in EDGE_CASES])
def test_parse_object_matches_the_full_grammar(data):
    assert _tokens(data, slow=False) == _tokens(data, slow=True)


_FRAGMENTS = [
    b"BT", b"ET", b"Tf", b"Td", b"TD", b"Tm", b"T*", b"TJ", b"Tj", b"'", b'"', b"q", b"Q", b"cm", b"Do",
    b"R", b"obj", b"true", b"false", b"null", b"0", b"1", b"72", b"-14", b"-0", b"+5", b"12.", b".5",
    b"-.25", b"3.75", b"007", b"/F1", b"/A#20B", b"/", b"(str)", b"(a(b)c)", b"(x\\)y)", b"(cr\rlf\r\n)",
    b"(oct\\101)", b"(", b")", b"\\", b"[", b"]", b"<<", b">>", b"<41>", b"<", b"{", b"%c\n", b"%",
    b"\xe9", b"\x00", b"-", b"+", b".", b"#",
]
_SEPARATORS = [b" ", b"", b"\n", b"\r", b"\r\n", b"\t", b"\x00", b"\x0c", b"  "]


@settings(max_examples=600, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(_FRAGMENTS), st.sampled_from(_SEPARATORS)), max_size=40))
def test_parse_object_matches_the_full_grammar_on_random_streams(parts):
    data = b"".join(tok + sep for tok, sep in parts)
    assert _tokens(data, slow=False) == _tokens(data, slow=True)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=80))
def test_parse_object_matches_the_full_grammar_on_random_bytes(data):
    assert _tokens(data, slow=False) == _tokens(data, slow=True)


def _literal_string_bytewise(buf: bytes) -> tuple:
    """A literal string read one byte at a time (ISO 32000-1 §7.3.4.2):
    ``(string, pos)``, or ``("error", pos)`` when it never closes."""
    n = len(buf)
    pos, depth, out = 1, 1, bytearray()
    while pos < n:
        c = buf[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = buf[pos]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                pos += 1
            elif e in b"01234567":  # octal, 1-3 digits
                val = k = 0
                while k < 3 and pos < n and buf[pos] in b"01234567":
                    val, pos, k = val * 8 + (buf[pos] - 0x30), pos + 1, k + 1
                out.append(val & 0xFF)
            elif e == 0x0D:  # line continuation \CR[LF]
                pos += 1
                if pos < n and buf[pos] == 0x0A:
                    pos += 1
            elif e == 0x0A:
                pos += 1
            else:  # \( \) \\ and anything else: literal next char
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            pos += 1
            if depth == 0:
                return bytes(out), pos
            out.append(c)
        elif c == 0x0D:  # CR or CRLF → LF
            out.append(0x0A)
            pos += 1
            if pos < n and buf[pos] == 0x0A:
                pos += 1
        else:
            out.append(c)
            pos += 1
    return "error", n


def _literal_string(buf: bytes) -> tuple:
    p = _Parser(buf)
    try:
        return p.parse_object(), p.pos
    except ValueError:
        return "error", p.pos


_STRINGS = [data for data in EDGE_CASES if data.startswith(b"(")] + [
    rb"(\\)",
    rb"(\)",
    rb"(\\\))",
    b"(\\\\r\r\\\r\n)",
    b"(a\rb\\\\\r)",
    rb"(\0\00\000\0000\777\400\8)",
    rb"(((deep)) (er) \) done)",
    b"(tail\\\\\\\r\n",
    b"(\r\r\n\n\r)",
]


@pytest.mark.parametrize("data", _STRINGS, ids=[repr(d)[:40] for d in _STRINGS])
def test_literal_string_matches_the_bytewise_reading(data):
    assert _literal_string(data) == _literal_string_bytewise(data)


@settings(max_examples=600, deadline=None)
@given(st.lists(st.sampled_from([b"(", b")", b"\\", b"\r", b"\n", b"a", b"7", b"0", b"n", b"\xff", b" "]), max_size=40))
def test_literal_string_matches_the_bytewise_reading_on_random_strings(parts):
    data = b"(" + b"".join(parts)
    assert _literal_string(data) == _literal_string_bytewise(data)


# ---------------------------------------------------------------------------
# glyphs: text_advance vs the per-glyph loop
# ---------------------------------------------------------------------------


def _per_glyph(font: _Font, raw: bytes, size, char_sp, word_sp, hscale):
    """One ``(char, width)`` pair per glyph, the advance summed in a
    loop: the reading the bulk path must reproduce bit for bit."""
    if font.type0:
        glyphs = [
            (font.cmap.get((raw[k] << 8) | raw[k + 1], "�"),
             font.widths.get((raw[k] << 8) | raw[k + 1], font.default_width))
            for k in range(0, len(raw) - 1, 2)
        ]
    else:
        glyphs = [(font.simple_map[b], font.widths.get(b, font.default_width)) for b in raw]
    adv = 0.0
    for c, w in glyphs:
        adv += (w / 1000.0 * size + char_sp + (word_sp if c == " " and not font.type0 else 0.0)) * hscale
    return "".join(c for c, _w in glyphs), adv


def _simple_font(rng: random.Random) -> _Font:
    simple_map = list(pdf._WINANSI)
    simple_map[0x41] = " "  # /Differences can map any code to a space ...
    simple_map[0x20] = "a"  # ... and the space code to something else
    widths = {b: rng.choice([0.0, 250.0, 277.5, 500.0, 611.125, 1000.0 / 3]) for b in rng.sample(range(256), 180)}
    widths[300] = 42.0  # out of the byte range: never read
    return _Font(simple_map=simple_map, widths=widths, default_width=rng.choice([500.0, 0.0, 333.25]))


def _type0_font(rng: random.Random) -> _Font:
    cmap = {c: chr(0x4E00 + c) for c in rng.sample(range(1 << 16), 300)}
    cmap[0x0003] = " "  # Tw never applies to Type0 fonts, even on a space
    widths = {c: rng.choice([500.0, 1000.0, 723.3]) for c in list(cmap)[:150]}
    return _Font(type0=True, cmap=cmap, widths=widths, default_width=1000.0)


_PARAMS = [
    (size, char_sp, word_sp, hscale)
    for size in (10.0, 9.5, 7.25, 0.1, 13.37, -4.0)
    for char_sp in (0.0, 0.5, -0.3)
    for word_sp in (0.0, 2.5, -1.25)
    for hscale in (1.0, 0.85, 2.0)
]  # 162 settings: past the per-font table cache, which is dropped and refilled


@pytest.mark.parametrize("make_font", [_simple_font, _type0_font], ids=["simple", "type0"])
def test_text_advance_is_the_per_glyph_loop_bit_for_bit(make_font):
    rng = random.Random(11)
    font = make_font(rng)
    for k, params in enumerate(_PARAMS * 2):
        raw = bytes(rng.randrange(256) for _ in range(rng.randint(0, 90)))
        if k % 5 == 0:
            raw += b"\x00\x03 A" * 5  # spaces, on both readings
        text, adv = font.text_advance(raw, *params)
        want_text, want_adv = _per_glyph(font, raw, *params)
        assert text == want_text
        assert adv.hex() == want_adv.hex(), (params, raw)


def test_text_advance_through_a_page():
    """Tc, Tw and Tz at fractional sizes, seen through the kernel: the
    run ends where the per-glyph loop puts it."""
    content = b"BT /F1 9.75 Tf 1.5 Tc 2.25 Tw 87.5 Tz 1 0 0 1 72 700 Tm (a b c d) Tj ET"
    doc = pdf.PdfDocument(_with_filtered_page([[(0, 0, 1, "marker")]], "marker", b"", content))
    runs = pdf._TextExtractor(doc).run_page(doc.pages()[0])
    font = _Font(simple_map=list(pdf._WINANSI))
    want = 72.0 + _per_glyph(font, b"a b c d", 9.75, 1.5, 2.25, 0.875)[1]
    assert [r.text for r in runs] == ["a b c d"]
    assert runs[0].x_end == want


# ---------------------------------------------------------------------------
# golden output, pinned before the bulk path
# ---------------------------------------------------------------------------


def _lines_repr(payload: bytes) -> str:
    try:
        return repr([(ln.page, ln.x, ln.y, ln.size, ln.x_end, ln.text) for ln in pdf_text_lines(payload)])
    except Exception as e:  # noqa: BLE001 - the error is part of the output
        return f"error {type(e).__name__}: {e}"


def mixed_pages_digest(n: int = 200, seed: int = 1) -> str:
    """Crawl pages as the benchmark builds them: odd ids are PDFs, every
    other of them with an xref stream; every line's geometry and every
    document's text and spans."""
    h = hashlib.sha256()
    for i in range(n):
        page = make_page(i, seed)
        payload = page["html"]
        if i % 2:
            runs = [(72.0, 740.0 - 14.0 * k, 10.0, line) for k, line in enumerate(page["text"].split("\n"))]
            payload = encode_pdf([runs], xref_stream=i % 4 == 3)
            h.update(_lines_repr(payload).encode())
        res = extract_document(payload)
        h.update(repr((res.text, [(ln.start, ln.end, ln.score, ln.tag, ln.order) for ln in res.lines])).encode())
    return h.hexdigest()


_VARIANTS = [
    {"variant": "td"},
    {"variant": "tm"},
    {"variant": "tjarr"},
    {"variant": "quote"},
    {"hex_strings": True},
    {"unicode_font": True},
    {"xref_stream": True, "objstm": True},
    {"xref_stream": True, "predictor": True},
    {"explicit_widths": True},
    {"compress": False},
]


def variants_digest(n: int = 100, seed: int = 5) -> str:
    """Every encoder variant at fractional sizes, with escapes and
    non-ASCII text, plus bit-flipped and truncated copies (uncompressed
    variants put the flips into the content stream itself)."""
    rng = random.Random(seed)
    h = hashlib.sha256()
    for i in range(n):
        text = make_page(i, seed)["text"]
        if i % 7 == 0:
            text += " café — (paren) back\\slash"
        kw = _VARIANTS[i % len(_VARIANTS)]
        runs = [
            (72.0 + k % 3, 740.0 - 13.5 * k, 9.5 + (k % 4) * 0.75, line + (" 中文" if kw.get("unicode_font") else ""))
            for k, line in enumerate(text.split("\n")[:40])
        ]
        payload = encode_pdf([runs, runs[:3]], **kw)
        h.update(_lines_repr(payload).encode())
        for _ in range(3):
            damaged = bytearray(payload)
            for _ in range(rng.randint(1, 20)):
                damaged[rng.randrange(len(damaged))] = rng.randrange(256)
            h.update(_lines_repr(bytes(damaged)).encode())
        for cut in (len(payload) // 3, len(payload) // 2):
            h.update(_lines_repr(payload[:cut]).encode())
    return h.hexdigest()


def test_golden_mixed_pages():
    assert mixed_pages_digest() == "2790a93e602555256b0fd3890f6d0f33d992d65e3565b395bea0090d24537247"


def test_golden_encoder_variants_and_damaged_copies():
    assert variants_digest() == "faab8421a709ea068ca4d6d24579f25f1ea25b58cee266797fff49473cd9f6f7"


# ---------------------------------------------------------------------------
# decoded-size caps on the expanding filters
# ---------------------------------------------------------------------------


def _with_filtered_page(pages: list, marker: str, stream_dict: bytes, stream: bytes) -> bytes:
    """``encode_pdf(pages)`` with the content stream that shows
    ``marker`` replaced by ``stream`` under ``stream_dict`` (the xref
    offsets shift, so the documented scan fallback finds the objects)."""
    base = encode_pdf(pages, compress=False)
    at = base.find(f"({marker})".encode())
    start = base.rfind(b"stream\n", 0, at) + 7
    end = base.find(b"\nendstream", at)
    head = base.rfind(b"<< /Length", 0, start)
    dict_end = base.find(b">>", head) + 2
    new_dict = b"<< " + stream_dict + b" /Length " + str(len(stream)).encode() + b" >>"
    return base[:head] + new_dict + base[dict_end:start] + stream + base[end:]


def _lzw_codes(codes: list[int]) -> bytes:
    """Pack LZW codes MSB-first at the widths the decoder reads them
    (9 bits, one more each time the table nears the next power of 2)."""
    acc = nbits = 0
    out = bytearray()
    width, table = 9, 258
    for k, code in enumerate(codes):
        acc, nbits = (acc << width) | code, nbits + width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        if k and code != 256:
            table += 1
        if table + 1 >= (1 << width) and width < 12:
            width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _lzw_bomb(out_bytes: int) -> bytes:
    """Codes 0, 258, 259, … decode to runs of 1, 2, 3, … zero bytes;
    then the longest entry again and again."""
    codes, total, length = [0], 1, 1
    while total < out_bytes and 258 + length - 1 < 4095:
        codes.append(258 + length - 1)
        length += 1
        total += length
    while total < out_bytes:
        codes.append(codes[-1])
        total += length
    return _lzw_codes(codes + [257])


_BOMBS = {
    # 2 input bytes → 128 output bytes
    "RunLengthDecode": (b"/Filter /RunLengthDecode", lambda n: b"\x81 " * (n // 128 + 1) + b"\x80"),
    "LZWDecode": (b"/Filter /LZWDecode", _lzw_bomb),
    # one byte → a whole /Columns-wide row
    "PNG predictor": (
        b"/Filter /ASCIIHexDecode /DecodeParms << /Predictor 12 /Columns 1000000000 >>",
        lambda n: b"00>",
    ),
}


@pytest.mark.parametrize("name", list(_BOMBS))
def test_expanding_filter_is_capped_and_skips_only_its_page(name, monkeypatch):
    cap = 1 << 20  # the same check as the 64 MiB default, on a small input
    monkeypatch.setattr(pdf, "MAX_DECODED_STREAM_BYTES", cap)
    stream_dict, bomb = _BOMBS[name]
    payload = bomb(2 * cap)
    assert len(payload) < cap // 8
    with pytest.raises(ValueError, match="decodes past"):
        pdf.decode_stream(None, PdfStream(pdf._Parser(b"<<" + stream_dict + b">>").parse_object(), payload))

    pages = [[(72, 700, 12, "kept page")], [(72, 700, 12, "bomb")]]
    assert pdf_extract_text(_with_filtered_page(pages, "bomb", stream_dict, payload)) == "kept page"
    assert pdf_extract_text(_with_filtered_page(pages[1:], "bomb", stream_dict, payload)) == ""


@pytest.mark.parametrize("name", list(_BOMBS))
def test_expanding_filter_under_the_cap_is_unchanged(name):
    stream_dict, _bomb = _BOMBS[name]
    content = b"BT /F1 10 Tf 72 700 Td (small) Tj ET"
    if name == "RunLengthDecode":
        stream = bytes([len(content) - 1]) + content + b"\x80"
    elif name == "LZWDecode":
        stream = _lzw_codes([*content, 257])
    else:
        stream_dict = b"/Filter /ASCIIHexDecode /DecodeParms << /Predictor 12 /Columns %d >>" % len(content)
        stream = (b"\x00" + content).hex().encode() + b">"
    page = _with_filtered_page([[(72, 700, 12, "small")]], "small", stream_dict, stream)
    assert pdf_extract_text(page) == "small"


def test_png_predictor_cap_needs_no_small_cap():
    """At the real cap, a 1-byte stream that asks for 10^9 columns fails
    at once instead of allocating a gigabyte."""
    with pytest.raises(ValueError, match="decodes past"):
        pdf._png_unpredict(b"\x00", 10**9, 1, 8)
    assert pdf._png_unpredict(b"\x00", 10**6, 1, 8) == bytes(10**6)

