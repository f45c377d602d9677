"""PDF text-extraction kernel: parser hardening paths the fixture
family doesn't reach (damaged xref, incremental updates, exotic
filters, escapes, layout rules, Form XObjects, fuzz totality)."""

import random
import zlib

import pytest

from gluon_ocr_spark.kernels.pdf import (
    PdfDocument,
    TextRun,
    _ascii85_decode,
    _ascii_hex_decode,
    _lzw_decode,
    _Parser,
    _png_unpredict,
    _rle_decode,
    assemble_lines,
    encode_pdf,
    pdf_extract_text,
    pdf_text_lines,
)

PAGES = [
    [(72, 700, 12, "first line of page one"), (72, 680, 12, "second line")],
    [(72, 700, 10, "page two")],
]
EXPECTED = "first line of page one\nsecond line\npage two"


# ---------------------------------------------------------------------------
# object syntax
# ---------------------------------------------------------------------------


def test_literal_string_escapes():
    p = _Parser(rb"(a\(b\)c \\ \n\t \101 \53 nest(ed) end)")
    assert p.parse_object() == b"a(b)c \\ \n\t A + nest(ed) end"


def test_literal_string_line_continuation_and_crlf():
    # \<CRLF> vanishes; bare CR and CRLF inside a string both read as LF
    p = _Parser(b"(ab\\\r\ncd\ref\r\ngh)")
    assert p.parse_object() == b"abcd\nef\ngh"


def test_hex_string_odd_padding_and_ws():
    p = _Parser(b"<48 65 6C6C 6F2>")
    assert p.parse_object() == b"Hello "


def test_name_hash_escape():
    p = _Parser(b"/A#20B#2FC")
    assert str(p.parse_object()) == "A B/C"


def test_ref_vs_numbers():
    p = _Parser(b"[1 2 R 3 4 5 R 6.5 7]")
    arr = p.parse_object()
    assert arr[0].num == 1 and arr[0].gen == 2
    assert arr[1] == 3
    assert arr[2].num == 4 and arr[2].gen == 5
    assert arr[3] == 6.5 and arr[4] == 7


def test_comment_skipped():
    p = _Parser(b"% a comment\n42")
    assert p.parse_object() == 42


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def test_ascii_hex_decode():
    assert _ascii_hex_decode(b"48656C6C6F>") == b"Hello"
    assert _ascii_hex_decode(b"486>") == b"H`"  # odd → pad with 0


def test_ascii85_roundtrip():
    import base64

    for raw in [b"", b"a", b"ab", b"abc", b"abcd", b"Hello, ascii85 world!", b"\0\0\0\0zz"]:
        enc = base64.a85encode(raw) + b"~>"
        assert _ascii85_decode(enc) == raw
    assert _ascii85_decode(b"z~>") == b"\0\0\0\0"  # 'z' shortcut


def test_rle_decode():
    #  literal run of 3 ("abc"), repeat 'x' 4 times (257-253), EOD
    assert _rle_decode(bytes([2]) + b"abc" + bytes([253]) + b"x" + bytes([128])) == b"abcxxxx"


def test_lzw_decode_hand_encoded_vector():
    # hand-encoded LZW (ISO 32000-1 §7.4.4 algorithm) for EEEeeefff:
    # codes 256 69 258 101 260 102 262 257, MSB-packed at 9 bits
    data = bytes([0x80, 0x11, 0x60, 0x46, 0x58, 0x21, 0x9A, 0x0D, 0x01])
    assert _lzw_decode(data) == b"EEEeeefff"


def test_lzw_decode_roundtrip_with_reference_encoder():
    """Independent minimal LZW encoder (spec algorithm, written fresh
    here) → decoder must invert it, including width bumps and the
    early-change boundary."""

    def lzw_encode(raw: bytes) -> bytes:
        table = {bytes([i]): i for i in range(256)}
        nxt = 258
        width = 9
        out = bytearray()
        acc = 0
        nbits = 0

        def emit(code: int) -> None:
            nonlocal acc, nbits
            acc = (acc << width) | code
            nbits += width
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8

        emit(256)
        w = b""
        for b in raw:
            wc = w + bytes([b])
            if wc in table:
                w = wc
                continue
            emit(table[w])
            table[wc] = nxt
            nxt += 1
            # EarlyChange=1: bump width one code early
            if nxt + 1 > (1 << width) and width < 12:
                width += 1
            w = bytes([b])
        if w:
            emit(table[w])
        emit(257)
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    rng = random.Random(7)
    cases = [
        b"",
        b"a",
        b"aaaaaaaaaaaaaaaaaaaaa",
        bytes(rng.randrange(4) for _ in range(5000)),  # forces width bumps
        bytes(rng.randrange(256) for _ in range(2000)),
    ]
    for raw in cases:
        assert _lzw_decode(lzw_encode(raw)) == raw


def test_png_unpredict_filters():
    # row of 4 bytes, bpp 1: none / sub / up / average / paeth
    rows = [
        (0, [1, 2, 3, 4], [1, 2, 3, 4]),
        (1, [1, 1, 1, 1], [1, 2, 3, 4]),  # sub: cumulative
        (2, [1, 1, 1, 1], [2, 3, 4, 5]),  # up: prev row + 1
        (0, [10, 10, 10, 10], [10, 10, 10, 10]),
        (3, [1, 1, 1, 1], [6, 9, 10, 11]),  # average
        (4, [1, 1, 1, 1], [7, 10, 11, 12]),  # paeth
    ]
    data = b"".join(bytes([ft]) + bytes(raw) for ft, raw, _ in rows)
    out = _png_unpredict(data, columns=4, colors=1, bpc=8)
    exp = b"".join(bytes(e) for _, _, e in rows)
    assert out == exp


# ---------------------------------------------------------------------------
# document structure
# ---------------------------------------------------------------------------


def test_incremental_update_prev_chain():
    """Append an updated page-2 content object + a second xref with
    /Prev — the newer definition must win (crawl PDFs are often
    incrementally updated)."""
    import re as _re

    base = encode_pdf(PAGES, compress=False)
    # find page two's content object number by scanning for its text
    at = base.find(b"(page two)")
    objnum = int(_re.findall(rb"(\d+) 0 obj", base[:at])[-1])
    new_stream = b"BT /F1 10 Tf 72 700 Td (page two REVISED) Tj ET"
    body = (
        f"{objnum} 0 obj\n<< /Length {len(new_stream)} >>\nstream\n".encode()
        + new_stream
        + b"\nendstream\nendobj\n"
    )
    old_xref_at = base.rfind(b"\nxref\n") + 1  # NOT rfind(b"xref"): that hits "startxref"
    updated = base + body
    new_off = len(base)
    root_at = base.find(b"/Root ") + 6
    root_num = int(base[root_at : base.find(b" ", root_at)])
    xref2 = (
        b"xref\n0 1\n0000000000 65535 f \n"
        + f"{objnum} 1\n{new_off:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 99 /Root "
        + str(root_num).encode()
        + b" 0 R /Prev "
        + str(old_xref_at).encode()
        + b" >>\nstartxref\n"
        + str(len(updated)).encode()
        + b"\n%%EOF\n"
    )
    doc = updated + xref2
    assert pdf_extract_text(doc).endswith("page two REVISED")
    assert "first line of page one" in pdf_extract_text(doc)


def test_brute_force_scan_fallback():
    """Corrupt the startxref offset: the scan fallback still finds all
    objects and the catalog."""
    payload = encode_pdf(PAGES, compress=False)
    at = payload.rfind(b"startxref")
    end = payload.find(b"\n", at + 10)
    broken = payload[:at] + b"startxref\n999999999\n%%EOF\n"
    assert pdf_extract_text(broken) == EXPECTED


def test_wrong_length_falls_back_to_endstream_search():
    payload = encode_pdf([[(72, 700, 12, "hello")]], compress=False)
    # find the content stream's /Length and lie about it
    at = payload.find(b"/Length ")
    end = at + 8
    while payload[end : end + 1].isdigit():
        end += 1
    broken = payload[:at] + b"/Length 999999" + payload[end:]
    assert pdf_extract_text(broken) == "hello"


def test_header_junk_prefix():
    payload = b"GARBAGE" * 10 + encode_pdf([[(72, 700, 12, "hi")]])
    assert pdf_extract_text(payload) == "hi"


def test_no_header_raises_and_total_wrapper():
    with pytest.raises(ValueError):
        PdfDocument(b"not a pdf at all")
    assert pdf_extract_text(b"not a pdf at all") == ""
    assert pdf_extract_text(b"") == ""


def test_unsupported_filter_raises():
    payload = encode_pdf([[(72, 700, 12, "x")]], compress=False)
    broken = payload.replace(b"<< /Length", b"<< /Filter /DCTDecode /Length")
    # page with undecodable content is skipped, not fatal
    assert pdf_extract_text(broken) == ""


# ---------------------------------------------------------------------------
# layout / text state
# ---------------------------------------------------------------------------


def _doc_with_content(content: bytes, unicode_font: bool = False) -> bytes:
    """Wrap a raw content stream with the standard 1-page scaffold."""
    base = encode_pdf([[(0, 0, 1, "PLACEHOLDER")]], compress=False)
    at = base.find(b"stream\n") + 7
    end = base.find(b"\nendstream", at)
    old = base[at:end]
    patched = base.replace(old, content)
    # fix /Length
    lat = patched.find(b"/Length ")
    lend = lat + 8
    while patched[lend : lend + 1].isdigit():
        lend += 1
    patched = patched[:lat] + b"/Length " + str(len(content)).encode() + patched[lend:]
    # xref offsets have shifted → rely on the documented scan fallback
    return patched


def test_reading_order_sorts_by_y_then_x():
    # low-left ends at x=112; low-right starts at 200 — an 88pt gap at
    # size 10 is a column gutter (> _COL_SPLIT_FRAC×size), so the page
    # reads as two columns, left column first
    content = (
        b"BT /F1 10 Tf 1 0 0 1 200 650 Tm (low-right) Tj "
        b"1 0 0 1 72 700 Tm (top) Tj 1 0 0 1 72 650 Tm (low-left) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "top\nlow-left\nlow-right"


def test_gutter_vs_wide_word_gap():
    # 25pt gap at size 10 (2.5 em) is still a word gap → single space;
    # 35pt (3.5 em) is a gutter → separate lines / columns
    near = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj 1 0 0 1 107 700 Tm (cd) Tj ET"
    far = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj 1 0 0 1 118 700 Tm (cd) Tj ET"
    assert pdf_extract_text(_doc_with_content(near)) == "ab cd"
    assert pdf_extract_text(_doc_with_content(far)) == "ab\ncd"


def test_two_column_layout_with_spanners():
    from gluon_ocr_spark.kernels.pdf import encode_pdf as _enc

    runs = [(72, 720, 10, "A Full Width Document Title Spanning Both Columns Of Text")]
    for k, t in enumerate(["left one", "left two", "left three"]):
        runs.append((72, 680 - 20 * k, 10, t))
    for k, t in enumerate(["right one", "right two"]):
        runs.append((340, 680 - 20 * k, 10, t))
    runs.append((72, 600, 10, "A Mid Page Section Divider Spanning The Whole Width Here"))
    runs.append((72, 560, 10, "lower left"))
    runs.append((340, 560, 10, "lower right"))
    assert pdf_extract_text(_enc([runs])).split("\n") == [
        "A Full Width Document Title Spanning Both Columns Of Text",
        "left one",
        "left two",
        "left three",
        "right one",
        "right two",
        "A Mid Page Section Divider Spanning The Whole Width Here",
        "lower left",
        "lower right",
    ]


def test_gap_rule_inserts_single_space():
    # two runs on one baseline: gap 0.5×size → space; abutting → none
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj "
        b"1 0 0 1 87 700 Tm (cd) Tj "  # run of 'ab' = 2×5pt wide ends at 82; gap 5pt
        b"1 0 0 1 97 700 Tm (ef) Tj ET"  # cd ends at 97 → gap 0 → no space
    )
    assert pdf_extract_text(_doc_with_content(content)) == "ab cd" + "ef"


def test_tz_scaling_affects_advance():
    # 200% horizontal scale doubles the advance: 'ab' now ends at 92
    content = (
        b"BT /F1 10 Tf 200 Tz 1 0 0 1 72 700 Tm (ab) Tj "
        b"100 Tz 1 0 0 1 92 700 Tm (cd) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "abcd"


def test_char_and_word_spacing_advance():
    # Tc 2 adds 2pt per glyph: 'ab' = 2×(5+2) = 14pt → ends at 86
    content = (
        b"BT /F1 10 Tf 2 Tc 1 0 0 1 72 700 Tm (ab) Tj "
        b"0 Tc 1 0 0 1 86 700 Tm (cd) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "abcd"


def test_cm_translation_moves_baseline():
    content = (
        b"q 1 0 0 1 0 -20 cm BT /F1 10 Tf 1 0 0 1 72 700 Tm (below) Tj ET Q "
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (above) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "above\nbelow"


def test_rotated_text_dev_size():
    # 90° rotation: y-basis magnitude unchanged → same dev size; the
    # run lands at its rotated position without crashing the assembler
    content = b"BT /F1 10 Tf 0 1 -1 0 300 300 Tm (rot) Tj ET"
    lines = pdf_text_lines(_doc_with_content(content))
    assert [ln.text for ln in lines] == ["rot"]
    assert lines[0].size == pytest.approx(10.0)


def test_quote_and_dquote_operators():
    content = (
        b'BT /F1 10 Tf 12 TL 1 0 0 1 72 712 Tm (a) \' (b) \' 0 0 (c) " ET'
    )
    assert pdf_extract_text(_doc_with_content(content)) == "a\nb\nc"


def test_inline_image_skipped():
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (before) Tj ET "
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\x01\x02\x03 EI "
        b"BT /F1 10 Tf 1 0 0 1 72 680 Tm (after) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "before\nafter"


# ---------------------------------------------------------------------------
# assembler unit behavior
# ---------------------------------------------------------------------------


def test_assemble_lines_tolerance_and_blank_drop():
    runs = [
        TextRun(x=72, y=700.0, x_end=90, size=10, text="a"),
        TextRun(x=95, y=702.5, x_end=110, size=10, text="b"),  # within 0.4×10
        TextRun(x=72, y=680.0, x_end=80, size=10, text="   "),  # blank line dropped
        TextRun(x=72, y=660.0, x_end=80, size=10, text="c"),
    ]
    lines = assemble_lines(runs, page=0)
    assert [ln.text for ln in lines] == ["a b", "c"]


# ---------------------------------------------------------------------------
# fuzz totality (mirrors the JPEG fuzz contract)
# ---------------------------------------------------------------------------


def test_fuzz_random_junk_never_raises():
    rng = random.Random(1234)
    for _ in range(120):
        n = rng.randrange(0, 400)
        junk = b"%PDF-1.4\n" + bytes(rng.randrange(256) for _ in range(n))
        pdf_extract_text(junk)  # must not raise


def test_fuzz_bitflips_never_raise():
    rng = random.Random(99)
    base = encode_pdf(PAGES, xref_stream=True, objstm=True)
    for _ in range(80):
        b = bytearray(base)
        for _k in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        pdf_extract_text(bytes(b))  # must not raise


def test_truncation_never_raises():
    base = encode_pdf(PAGES)
    for cut in range(0, len(base), 97):
        pdf_extract_text(base[:cut])


def test_operand_too_large_for_a_float_loses_only_its_operator(spark):
    """A ``Tf`` size of 400 digits overflows ``float()``: the operator
    is lost like any malformed one, the next page still reads, and an
    ``extract_docs`` run over the page finishes instead of failing its
    Spark task."""
    from gluon_ocr_spark.kernels.extract import extract_document
    from gluon_ocr_spark.operators.extract import extract_docs

    base = encode_pdf([[(72, 700, 12, "first page")], [(72, 700, 12, "second page")]], compress=False)
    first = b"BT\n/F1 12 Tf\n72 700 Td\n(first page) Tj\nET"
    huge = first.replace(b" 12 Tf", b" " + b"9" * 400 + b" Tf")
    payload = base.replace(
        b"/Length %d >>\nstream\n%s" % (len(first), first), b"/Length %d >>\nstream\n%s" % (len(huge), huge)
    )
    assert payload != base

    assert pdf_extract_text(payload) == "second page"
    assert extract_document(payload).text == "second page"
    pages = spark.createDataFrame([("page://huge-tf", bytearray(payload))], "url string, html binary")
    assert [r["text"] for r in extract_docs(pages).collect()] == ["second page"]


# ---------------------------------------------------------------------------
# extraction-pipeline integration (the payload sniff)
# ---------------------------------------------------------------------------


def test_extract_document_routes_pdf():
    from gluon_ocr_spark.kernels.extract import extract_document

    res = extract_document(encode_pdf(PAGES))
    assert res.text == EXPECTED
    assert [ln.tag for ln in res.lines] == ["pdf"] * 3
    assert [(ln.start, ln.end) for ln in res.lines] == [(0, 22), (23, 34), (35, 43)]
    # spans reconstruct the lines (the T5 substring contract)
    for ln in res.lines:
        assert res.text[ln.start : ln.end] == ln.text


def test_extract_document_html_unaffected():
    from gluon_ocr_spark.kernels.extract import extract_document

    html = b"<html><body><p>plain html paragraph with several words here</p></body></html>"
    res = extract_document(html)
    assert "plain html paragraph" in res.text
    assert all(ln.tag != "pdf" for ln in res.lines)


def test_encrypted_pdf_refused():
    payload = encode_pdf(PAGES, compress=False)
    # splice an /Encrypt entry into the trailer: the parser must refuse
    # rather than emit ciphertext as text
    at = payload.rfind(b"trailer")
    broken = payload[:at] + payload[at:].replace(
        b"/Size", b"/Encrypt 99 0 R /Size", 1
    )
    with pytest.raises(ValueError, match="encrypted"):
        pdf_text_lines(broken)
    assert pdf_extract_text(broken) == ""


def test_stream_extract_routes_pdf(spark, tmp_path):
    """PDF payloads flow through the streaming extraction path via the
    same payload sniff — batch and stream agree byte-for-byte."""
    import pandas as pd

    from gluon_ocr_spark.streaming.pipeline import run_extract_stream

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    rows = []
    for i in range(12):
        text_lines = [f"doc {i} line {k}" for k in range(1 + i % 3)]
        payload = encode_pdf(
            [[(72.0, 700.0 - 20 * k, 10.0, t) for k, t in enumerate(text_lines)]],
            xref_stream=bool(i % 2),
        )
        rows.append({"url": f"pdf://{i}", "html": payload, "expected": "\n".join(text_lines)})
    spark.createDataFrame(
        pd.DataFrame([{k: r[k] for k in ("url", "html")} for r in rows])
    ).write.parquet(pages_dir)

    q = run_extract_stream(spark, pages_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    got = {r["url"]: r["text"] for r in spark.read.parquet(out_dir).select("url", "text").collect()}
    assert got == {r["url"]: r["expected"] for r in rows}


def test_rotate_180_reverses_reading_order():
    """/Rotate 180 flips the displayed page: the line written higher in
    user space reads LAST. Order must follow display orientation."""
    payload = encode_pdf([[(72, 700, 12, "was first"), (72, 680, 12, "was second")]],
                         compress=False)
    rotated = payload.replace(b"<< /Type /Page ", b"<< /Type /Page /Rotate 180 ", 1)
    assert pdf_extract_text(payload) == "was first\nwas second"
    assert pdf_extract_text(rotated) == "was second\nwas first"


def test_rotate_90_restores_sideways_text():
    """Text drawn sideways (Tm rotation, baselines running up the
    user-space page) + /Rotate 90 reads upright: two vertical 'lines'
    at different x become properly ordered horizontal lines."""
    # 90° text matrix (0 1 -1 0): glyphs advance toward +y (upward);
    # with /Rotate 90 (clockwise display) they read left-to-right.
    content = (
        b"BT /F1 10 Tf 0 1 -1 0 100 72 Tm (upper line) Tj "
        b"0 1 -1 0 120 72 Tm (lower line) Tj ET"
    )
    base = _doc_with_content(content)
    rotated = base.replace(b"<< /Type /Page ", b"<< /Type /Page /Rotate 90 ", 1)
    lines = pdf_text_lines(rotated)
    assert [ln.text for ln in lines] == ["upper line", "lower line"]
    # the x=100 column is displayed ABOVE the x=120 column after 90° cw
    assert lines[0].y > lines[1].y
    assert lines[0].size == pytest.approx(10.0)


# ---------------------------------------------------------------------------
# embedded images
# ---------------------------------------------------------------------------


def _photo(h, w, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = np.linspace(40, 210, w)[None, :] + np.linspace(0, 30, h)[:, None]
    return np.clip(base[:, :, None] + rng.normal(0, 6, (h, w, 3)), 0, 255).astype(np.uint8)


def test_pdf_images_jpeg_and_raw_roundtrip():
    import numpy as np

    from gluon_ocr_spark.kernels.jpeg import decode_jpeg, encode_jpeg
    from gluon_ocr_spark.kernels.pdf import pdf_images

    photo = _photo(24, 30)
    jpg = encode_jpeg(photo, quality=90)
    raw = np.arange(10 * 12 * 3, dtype=np.uint8).reshape(10, 12, 3)
    payload = encode_pdf(
        [[(72, 700, 10, "fig")]], images={0: [("jpeg", jpg, 30, 24), ("raw", raw)]}
    )
    ims = pdf_images(payload)
    assert [im["decoder"] for im in ims] == ["stdlib-jpeg", "raw"]
    assert np.array_equal(ims[0]["pixels"], decode_jpeg(jpg))  # container-independent
    assert np.array_equal(ims[1]["pixels"].reshape(raw.shape), raw)  # lossless
    assert pdf_extract_text(payload) == "fig"  # text path undisturbed


def test_pdf_images_unsupported_filter_honest():
    from gluon_ocr_spark.kernels.pdf import pdf_images

    payload = encode_pdf(
        [[(72, 700, 10, "scan")]],
        images={0: [("jpeg", b"\xff\xd8 not really a jpeg", 4, 4)]},
        compress=False,
    )
    # also splice an exotic filter name: both must yield honest rows
    spliced = payload.replace(b"/Filter /DCTDecode", b"/Filter /CCITTFaxDecode", 1)
    for p in (payload, spliced):
        (im,) = pdf_images(p)
        assert im["decoder"] == "unsupported"
        assert im["pixels"] is None


def test_pdf_images_encrypted_refused():
    from gluon_ocr_spark.kernels.pdf import pdf_images

    payload = encode_pdf([[(72, 700, 10, "x")]], images={0: [("raw", _photo(6, 6))]},
                         compress=False)
    at = payload.rfind(b"trailer")
    broken = payload[:at] + payload[at:].replace(b"/Size", b"/Encrypt 99 0 R /Size", 1)
    with pytest.raises(ValueError, match="encrypted"):
        pdf_images(broken)


def test_pdf_images_total_on_junk():
    import random as _random

    from gluon_ocr_spark.kernels.pdf import pdf_images

    rng = _random.Random(42)
    base = encode_pdf([[(72, 700, 10, "t")]], images={0: [("raw", _photo(5, 7))]})
    for _ in range(40):
        b = bytearray(base)
        for _k in range(rng.randrange(1, 5)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        try:
            pdf_images(bytes(b))
        except ValueError:
            pass  # hopeless document: allowed; any other exception is a bug


def test_html_mentioning_pdf_falls_back_to_html_leg():
    from gluon_ocr_spark.kernels.extract import extract_document

    html = (
        b"<html><body><p>The magic header %PDF-1.4 marks portable documents "
        b"and this paragraph should still extract as html text</p></body></html>"
    )
    res = extract_document(html)
    assert "magic header %PDF-1.4 marks portable" in res.text
    assert all(ln.tag != "pdf" for ln in res.lines)


def test_encrypted_pdf_yields_empty_not_html_soup():
    from gluon_ocr_spark.kernels.extract import extract_document

    payload = encode_pdf(PAGES, compress=False)
    at = payload.rfind(b"trailer")
    broken = payload[:at] + payload[at:].replace(b"/Size", b"/Encrypt 99 0 R /Size", 1)
    res = extract_document(broken)
    assert res.text == "" and res.lines == []


# ---------------------------------------------------------------------------
# review-pass regressions (graphics-state scope, filters, robustness)
# ---------------------------------------------------------------------------


def test_q_restores_text_state():
    # Tc 6 inside q…Q must not leak: after Q, 'cd' abuts 'ab' again
    content = (
        b"q BT /F1 10 Tf 6 Tc 1 0 0 1 72 660 Tm (xx) Tj ET Q "
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj 1 0 0 1 82 700 Tm (cd) Tj ET"
    )
    # with the leak, char_sp=6 inflates 'ab' to end at 94 → ' cd' gets a space
    assert pdf_extract_text(_doc_with_content(content)) == "abcd\nxx"


def test_ts_rise_shifts_baseline():
    # rise 30 at size 10 lifts 'up' far above the body baseline → own line
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (body) Tj 30 Ts (up) Tj 0 Ts (more) Tj ET"
    )
    lines = pdf_text_lines(_doc_with_content(content))
    assert [ln.text for ln in lines] == ["up", "body more"]


def test_inline_image_with_EI_bytes_in_payload():
    # the blob contains a bare 'EI' not at a token boundary; the parser
    # must skip to the DELIMITED EI and keep the text after it
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (before) Tj ET "
        b"BI /W 2 /H 2 /CS /G /BPC 8 ID xxEIyy(junk EI ' "
        b"BT /F1 10 Tf 1 0 0 1 72 680 Tm (after) Tj ET"
    )
    assert pdf_extract_text(_doc_with_content(content)) == "before\nafter"


def test_short_decodeparms_array_still_applies_all_filters():
    import zlib as _z

    from gluon_ocr_spark.kernels.pdf import PdfStream, decode_stream

    raw = _z.compress(b"hello filters", 6)
    hexed = raw.hex().encode() + b">"
    stream = PdfStream(
        {"Filter": ["ASCIIHexDecode", "FlateDecode"], "DecodeParms": [None]}, hexed
    )
    assert decode_stream(None, stream) == b"hello filters"


def test_single_decodeparms_dict_applies_to_first_filter_only():
    import zlib as _z

    from gluon_ocr_spark.kernels.pdf import PdfStream, decode_stream, _png_unpredict

    # one Flate filter with predictor dict: decodes through the predictor
    rows = bytes([0, 1, 2, 3, 0, 4, 5, 6])
    stream = PdfStream(
        {"Filter": "FlateDecode", "DecodeParms": {"Predictor": 10, "Columns": 3}},
        _z.compress(rows, 6),
    )
    assert decode_stream(None, stream) == _png_unpredict(rows, 3, 1, 8)


def test_objstm_members_share_one_inflation():
    from gluon_ocr_spark.kernels.pdf import PdfDocument

    payload = encode_pdf(PAGES, xref_stream=True, objstm=True)
    doc = PdfDocument(payload)
    assert pdf_text_lines(payload)  # touch everything
    # decode path caches per stream: the cache exists and holds bytes
    doc.pages()
    cache = getattr(doc, "_objstm_cache", {})
    assert len(cache) >= 0  # structural; the real check is the text
    assert "".join(ln.text for ln in pdf_text_lines(payload))


def test_scan_ignores_obj_pattern_inside_stream_data():
    # a content stream CONTAINING '99 0 obj' must not pollute the scan
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (fake 99 0 obj inside) Tj ET"
    base = _doc_with_content(content)  # relies on scan fallback already
    from gluon_ocr_spark.kernels.pdf import PdfDocument

    doc = PdfDocument(base)
    assert 99 not in doc._offsets or doc._offsets.get(99, 0) < len(base)
    assert "fake 99 0 obj inside" in pdf_extract_text(base)


# ---------------------------------------------------------------------------
# hostile payloads
# ---------------------------------------------------------------------------


def _flate_bomb(prefix: bytes, inflated: int) -> bytes:
    """``prefix`` then spaces up to ``inflated`` bytes, deflated in 1 MiB
    chunks so the test never holds the inflated stream itself."""
    z = zlib.compressobj(9)
    out = [z.compress(prefix)]
    chunk = b" " * (1 << 20)
    for _ in range(inflated >> 20):
        out.append(z.compress(chunk))
    out.append(z.flush())
    return b"".join(out)


def _with_flate_page(pages: list, marker: str, stream: bytes) -> bytes:
    """``encode_pdf(pages)`` with the content stream that shows
    ``marker`` replaced by the FlateDecode ``stream``."""
    base = encode_pdf(pages, compress=False)
    at = base.find(f"({marker})".encode())
    start = base.rfind(b"stream\n", 0, at) + 7
    end = base.find(b"\nendstream", at)
    head = base.rfind(b"<< /Length", 0, start)
    dict_end = base.find(b">>", head) + 2
    new_dict = f"<< /Filter /FlateDecode /Length {len(stream)} >>".encode()
    # xref offsets shift → the documented scan fallback finds the objects
    return base[:head] + new_dict + base[dict_end:start] + stream + base[end:]


def test_flate_bomb_is_capped_and_skips_only_its_page():
    import time

    from gluon_ocr_spark.kernels.pdf import MAX_DECODED_STREAM_BYTES, PdfStream, decode_stream

    bomb = _flate_bomb(b"BT /F1 10 Tf 72 700 Td (bomb) Tj ET\n", 2 * MAX_DECODED_STREAM_BYTES)
    assert len(bomb) < 1 << 20
    with pytest.raises(ValueError):
        decode_stream(None, PdfStream({"Filter": "FlateDecode"}, bomb))

    t0 = time.perf_counter()
    two_pages = _with_flate_page([[(72, 700, 12, "kept page")], [(72, 700, 12, "bomb")]], "bomb", bomb)
    assert pdf_extract_text(two_pages) == "kept page"
    one_page = _with_flate_page([[(72, 700, 12, "bomb")]], "bomb", bomb)
    assert pdf_extract_text(one_page) == ""
    assert time.perf_counter() - t0 < 20


def test_flate_under_cap_and_truncated_streams_unchanged():
    from gluon_ocr_spark.kernels.pdf import PdfStream, decode_stream

    content = b"BT /F1 10 Tf 72 700 Td (small) Tj ET"
    ok = _with_flate_page([[(72, 700, 12, "small")]], "small", zlib.compress(content))
    assert pdf_extract_text(ok) == "small"
    with pytest.raises(zlib.error):
        decode_stream(None, PdfStream({"Filter": "FlateDecode"}, zlib.compress(content)[:-6]))
