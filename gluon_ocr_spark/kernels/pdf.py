"""PDF text extraction — the north-rule's "PDF/layout parse" leg.

BASELINE.json's north rule pins "a brand-new PySpark-native
main-content extraction pipeline (HTML boilerplate strip, PDF/layout
parse, DOM heuristics)".  The HTML leg lives in
:mod:`gluon_ocr_spark.kernels.dom`; this module is the PDF leg, built
from scratch against the public PDF 1.7 spec (ISO 32000-1) with the
stdlib only (``zlib`` for FlateDecode), mirroring the reference's
page → detect → order → recognize → assemble contract
(``scripts/deploy/python_infer/demo.py:156-175``): text *runs* play
the role of detected boxes, baseline grouping plays reading-order
sorting (SURVEY §2.9.4 C2), and the '\\n'.join doc assembly is the
same byte-identical T5 contract as :mod:`.extract`.

Scope (documented, tested):

* **Cross-reference**: classic ``xref`` tables with ``/Prev`` chains
  (incremental updates), PDF 1.5 cross-reference *streams* (``/W``,
  ``/Index``, PNG predictors 10-15), compressed object streams
  (``/Type /ObjStm``), and a brute-force ``N G obj`` scan fallback so
  truncated/corrupt crawl PDFs still yield their parseable objects.
* **Filters**: FlateDecode (+ PNG predictor ``/DecodeParms``),
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode, LZWDecode
  (MSB-first, EarlyChange — NOT the GIF LSB variant in
  :mod:`.gif`). Unknown filters raise ``ValueError`` (total: the
  extraction wrapper maps that to an empty result, never a crash).
* **Text**: BT/ET, Td/TD/Tm/T*/TL, Tf/Tc/Tw/Tz/Ts, Tj/'/"/TJ, with
  q/Q/cm CTM tracking and Form-XObject recursion (``Do``), inline
  images skipped. Simple fonts decode via WinAnsiEncoding (cp1252)
  / ``/Differences``; Type0 (Identity-H) fonts decode via their
  ``/ToUnicode`` CMap (bfchar + bfrange). StandardEncoding is
  approximated by cp1252 (deviation: the 20-odd non-ASCII Standard
  glyph slots differ; ASCII — the corpus contract — is identical).
* **Line assembly** (deterministic, pinned by tests): runs are
  grouped onto one line while the device-space baseline differs by
  < ``0.4 ×`` the smaller font size; lines sort by (page, -y, x);
  runs within a line sort by start-x and join with a single space
  iff the gap from the previous run's end exceeds ``0.18 ×`` its
  font size (else joined directly). TJ kerning moves the pen, so a
  kern wide enough to look like a space *is* a space under the same
  gap rule — one rule, no special cases.
* **Bulk text path, same bytes**: literal strings copy each run of
  plain bytes as one slice, simple fonts decode through a
  ``str.translate`` table, and operators, numbers and names take one
  regex match each; every one returns exactly what the byte-at-a-time
  reading returns (``tests/test_pdf_fast_paths.py`` compares them).
  **Float rule**: a pen advance is the per-glyph terms
  ``(w / 1000 × size + Tc [+ Tw]) × Th`` folded left to right from
  ``0.0`` with ``functools.reduce(operator.add, …, 0.0)``. Never the
  builtin ``sum``: from Python 3.12 it compensates its rounding, moves
  ``x_end`` by an ulp and with it the gap rule's spaces.

The deterministic :func:`encode_pdf` writer exists for fixtures and
oracles only (same pattern as :mod:`.jpeg` / :mod:`.gif`): lossless
text round-trip through a real PDF byte stream is the oracle.
"""

from __future__ import annotations

import re
import struct
import zlib
from dataclasses import dataclass, field
from functools import reduce
from operator import add

# ---------------------------------------------------------------------------
# object model
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class Name(str):
    """A PDF name object (``/Foo``) — distinct from string objects."""

    __slots__ = ()


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


@dataclass
class PdfStream:
    dict: dict
    raw: bytes  # still encoded; decode via decode_stream(doc, self)


# ---------------------------------------------------------------------------
# object-syntax parser
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_LITERAL_STOP = re.compile(rb"[()\\\r]")
_OCTAL = re.compile(rb"[0-7]{1,3}")
_ESCAPES = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}  # \n \r \t \b \f

# One token after optional whitespace, in one match: a float, an int
# that cannot start an ``N G R`` reference (no ``<gen> R`` and no
# comment after it), a name without ``#`` escapes, or a keyword. Every
# other object, and every int that may start a reference, goes through
# _Parser._parse_object.
_WS_RX = re.escape(_WS)
_END_RX = re.escape(_WS + _DELIM)  # where a token stops
_REF_TAIL = rb"[" + _WS_RX + rb"]*(?:%|(?:\+?\d+|-0+)(?![\d.])[" + _WS_RX + rb"]*R(?:[" + _END_RX + rb"]|\Z))"
_TOKEN = re.compile(
    rb"[" + _WS_RX + rb"]*(?:"
    rb"([+-]?(?:\d+\.\d*|\.\d+))"
    rb"|([+-]?\d+)(?![\d.])(?!" + _REF_TAIL + rb")"
    rb"|/([^" + _END_RX + rb"#]*)(?=[" + _END_RX + rb"]|\Z)"
    rb"|([^" + _END_RX + rb"+\-.0-9][^" + _END_RX + rb"]*))"
)
_FLOAT, _INT, _NAME, _KEYWORD = 1, 2, 3, 4
_CONSTANTS = {"true": True, "false": False, "null": None}


class _Parser:
    """Recursive-descent parser over the raw byte buffer.

    One instance parses both body objects and content streams; content
    operators surface as bare keyword strings (``str``, not ``Name``)
    from :meth:`parse_object`.
    """

    __slots__ = ("buf", "pos", "n")

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos
        self.n = len(buf)

    # -- low level ----------------------------------------------------------

    def skip_ws(self) -> None:
        buf, n = self.buf, self.n
        pos = self.pos
        while pos < n:
            c = buf[pos]
            if c in _WS:
                pos += 1
            elif c == 0x25:  # '%' comment to EOL
                while pos < n and buf[pos] not in b"\r\n":
                    pos += 1
            else:
                break
        self.pos = pos

    def _keyword(self) -> str:
        start = self.pos
        buf, n = self.buf, self.n
        while self.pos < n and buf[self.pos] not in _WS and buf[self.pos] not in _DELIM:
            self.pos += 1
        return buf[start : self.pos].decode("latin-1")

    # -- objects ------------------------------------------------------------

    def parse_object(self):
        """The next object. The tokens of :data:`_TOKEN` take one regex
        match; they give the same object, the same ``pos`` and the same
        errors as :meth:`_parse_object`, which parses everything else."""
        m = _TOKEN.match(self.buf, self.pos)
        if m is None:
            return self._parse_object()
        self.pos = m.end()
        kind = m.lastindex
        if kind == _KEYWORD:
            kw = m.group(_KEYWORD).decode("latin-1")
            return _CONSTANTS[kw] if kw in _CONSTANTS else kw
        if kind == _INT:
            return int(m.group(_INT))
        if kind == _FLOAT:
            return float(m.group(_FLOAT))
        return Name(m.group(_NAME).decode("latin-1"))

    def _parse_object(self):
        self.skip_ws()
        if self.pos >= self.n:
            raise ValueError("pdf: unexpected EOF")
        buf = self.buf
        c = buf[self.pos]
        if c == 0x2F:  # /
            return self._parse_name()
        if c == 0x28:  # (
            return self._parse_literal_string()
        if c == 0x3C:  # < or <<
            if buf.startswith(b"<<", self.pos):
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if c == 0x5B:  # [
            return self._parse_array()
        if c in b"+-.0123456789":
            return self._parse_number_or_ref()
        kw = self._keyword()
        if not kw:
            raise ValueError(f"pdf: bad token at {self.pos}")
        # bare keyword (content-stream operator / obj / endobj) or constant
        return _CONSTANTS[kw] if kw in _CONSTANTS else kw

    def _parse_name(self) -> Name:
        self.pos += 1
        start = self.pos
        buf, n = self.buf, self.n
        out = bytearray()
        while self.pos < n:
            c = buf[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # '#xx'
                out += buf[start : self.pos]
                out.append(int(buf[self.pos + 1 : self.pos + 3], 16))
                self.pos += 3
                start = self.pos
            else:
                self.pos += 1
        out += buf[start : self.pos]
        return Name(out.decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        """Copies each run of plain bytes as one slice, stopping only at
        ``(``, ``)``, backslash and CR. An unterminated string raises
        with ``pos`` at the end of the buffer."""
        buf, n = self.buf, self.n
        pos = self.pos + 1
        depth = 1
        out = bytearray()
        stop = _LITERAL_STOP.search
        while (m := stop(buf, pos)) is not None:
            at = m.start()
            out += buf[pos:at]
            c = buf[at]
            pos = at + 1
            if c == 0x5C:  # backslash
                if pos >= n:
                    break
                e = buf[pos]
                if e in _ESCAPES:
                    out.append(_ESCAPES[e])
                    pos += 1
                elif e in b"01234567":  # octal, 1-3 digits
                    digits = _OCTAL.match(buf, pos)
                    out.append(int(digits.group(), 8) & 0xFF)
                    pos = digits.end()
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
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = pos
                    return bytes(out)
                out.append(c)
            else:  # CR or CRLF → LF per spec
                out.append(0x0A)
                if pos < n and buf[pos] == 0x0A:
                    pos += 1
        self.pos = n
        raise ValueError("pdf: unterminated string")

    def _parse_hex_string(self) -> bytes:
        buf, n = self.buf, self.n
        self.pos += 1
        digits = bytearray()
        while self.pos < n:
            c = buf[self.pos]
            self.pos += 1
            if c == 0x3E:  # >
                if len(digits) % 2:
                    digits.append(0x30)
                return bytes.fromhex(digits.decode("ascii"))
            if c in b"0123456789abcdefABCDEF":
                digits.append(c)
            elif c not in _WS:
                raise ValueError("pdf: bad hex string")
        raise ValueError("pdf: unterminated hex string")

    def _parse_array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise ValueError("pdf: unterminated array")
            if self.buf[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_dict_or_stream(self):
        self.pos += 2
        d: dict = {}
        while True:
            self.skip_ws()
            if self.buf.startswith(b">>", self.pos):
                self.pos += 2
                break
            key = self.parse_object()
            if not isinstance(key, Name):
                raise ValueError("pdf: dict key is not a name")
            d[str(key)] = self.parse_object()
        save = self.pos
        self.skip_ws()
        if self.buf.startswith(b"stream", self.pos):
            self.pos += 6
            if self.buf.startswith(b"\r\n", self.pos):
                self.pos += 2
            elif self.pos < self.n and self.buf[self.pos] in b"\n\r":
                self.pos += 1
            return d, self.pos  # caller slices raw data using /Length
        self.pos = save
        return d

    def _parse_number_or_ref(self):
        m = _NUM_RE.match(self.buf, self.pos)
        if not m:
            raise ValueError(f"pdf: bad number at {self.pos}")
        tok = m.group()
        self.pos = m.end()
        if b"." in tok:
            return float(tok)
        val = int(tok)
        # lookahead for "<gen> R"
        save = self.pos
        self.skip_ws()
        m2 = _NUM_RE.match(self.buf, self.pos)
        if m2 and b"." not in m2.group() and int(m2.group()) >= 0 and val >= 0:
            p2 = m2.end()
            q = p2
            while q < self.n and self.buf[q] in _WS:
                q += 1
            if q < self.n and self.buf[q : q + 1] == b"R" and (
                q + 1 >= self.n or self.buf[q + 1] in _WS or self.buf[q + 1] in _DELIM
            ):
                self.pos = q + 1
                return Ref(val, int(m2.group()))
        self.pos = save
        return val


# ---------------------------------------------------------------------------
# stream filters
# ---------------------------------------------------------------------------


# Output cap per stream for every filter that can expand its input:
# deflate inflates up to ~1000:1 (a 292 KB stream cost a worker ~0.6 GB
# of RSS), LZW ~2700:1, RunLength 64:1, and the PNG predictor pads each
# row to /Columns, so one byte could ask for a gigabyte. Past the cap a
# filter raises ValueError and only the page (or, for an xref or object
# stream, the document) that needs the stream is lost. 64 MiB still
# holds a 4k x 5k RGB image or any real content stream.
MAX_DECODED_STREAM_BYTES = 64 << 20


def _too_big(name: str) -> ValueError:
    return ValueError(f"pdf: {name} stream decodes past {MAX_DECODED_STREAM_BYTES} bytes")


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    rowlen = (columns * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc + 7) // 8)
    n = len(data)
    # every row of 1 + rowlen input bytes (the last one zero-padded)
    # decodes to rowlen bytes
    if rowlen > 0 and -(-n // (1 + rowlen)) * rowlen > MAX_DECODED_STREAM_BYTES:
        raise _too_big("PNG-predicted")
    out = bytearray()
    prev = bytes(rowlen)
    pos = 0
    while pos + 1 <= n and pos < n:
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        if len(row) < rowlen:
            row.extend(bytes(rowlen - len(row)))
        pos += 1 + rowlen
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf: unknown PNG filter type {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    digits = bytes(c for c in data if c not in _WS)
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for c in data:
        if c in _WS:
            continue
        if c == 0x7A and not group:  # 'z' → four zero bytes
            out += b"\0\0\0\0"
            continue
        if not (0x21 <= c <= 0x75):
            raise ValueError("pdf: bad ascii85 byte")
        group.append(c - 33)
        if len(group) == 5:
            val = 0
            for g in group:
                val = val * 85 + g
            out += val.to_bytes(4, "big")
            group = []
    if group:
        k = len(group)
        if k == 1:
            raise ValueError("pdf: truncated ascii85 group")
        val = 0
        for g in group + [84] * (5 - k):
            val = val * 85 + g
        out += val.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        ln = data[pos]
        pos += 1
        if ln == 128:
            break
        if ln < 128:
            if pos + ln + 1 > n:
                raise ValueError("pdf: truncated RLE literal")
            out += data[pos : pos + ln + 1]
            pos += ln + 1
        else:
            if pos >= n:
                raise ValueError("pdf: truncated RLE run")
            out += bytes([data[pos]]) * (257 - ln)
            pos += 1
        if len(out) > MAX_DECODED_STREAM_BYTES:
            raise _too_big("RunLengthDecode")
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode: MSB-first bit packing, 9→12-bit codes, clear=256,
    EOD=257, width bumps ``early_change`` codes before the table fills
    (the TIFF convention — NOT the GIF LSB-first variant)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("pdf: bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("pdf: LZW code out of range")
            out += entry
            if len(out) > MAX_DECODED_STREAM_BYTES:
                raise _too_big("LZWDecode")
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _flate_decode(data: bytes) -> bytes:
    """``zlib.decompress`` with output capped at
    :data:`MAX_DECODED_STREAM_BYTES`: input left over at the cap raises
    ``ValueError``; a truncated stream raises ``zlib.error`` as before."""
    d = zlib.decompressobj()
    out = d.decompress(data, MAX_DECODED_STREAM_BYTES)
    if d.unconsumed_tail:
        raise _too_big("FlateDecode")
    if not d.eof:
        raise zlib.error("incomplete or truncated stream")
    return out


def decode_stream(doc: "PdfDocument | None", stream: PdfStream) -> bytes:
    """Apply the stream's filter chain; raises ValueError on unsupported
    filters and on output past :data:`MAX_DECODED_STREAM_BYTES`."""
    d = stream.dict
    resolve = doc.resolve if doc is not None else (lambda x: x)
    filters = resolve(d.get("Filter"))
    if filters is None:
        return stream.raw
    if isinstance(filters, (Name, str)):
        filters = [filters]
    parms = resolve(d.get("DecodeParms", d.get("DP")))
    if not isinstance(parms, list):
        # a lone dict pairs with the FIRST filter only — replicating it
        # would apply e.g. a Flate /Predictor after every other filter
        parms = [parms]
    if len(parms) < len(filters):
        # lenient producers emit short DecodeParms arrays; zip() would
        # silently SKIP the unpaired trailing filters
        parms = parms + [None] * (len(filters) - len(parms))
    data = stream.raw
    for f, p in zip(filters, parms):
        p = resolve(p) or {}
        f = str(f)
        if f in ("FlateDecode", "Fl"):
            data = _flate_decode(data)
        elif f in ("LZWDecode", "LZW"):
            data = _lzw_decode(data, int(resolve(p.get("EarlyChange", 1))))
        elif f in ("ASCIIHexDecode", "AHx"):
            data = _ascii_hex_decode(data)
        elif f in ("ASCII85Decode", "A85"):
            data = _ascii85_decode(data)
        elif f in ("RunLengthDecode", "RL"):
            data = _rle_decode(data)
        else:
            raise ValueError(f"pdf: unsupported filter {f}")
        pred = int(resolve(p.get("Predictor", 1)) or 1)
        if pred >= 10:
            data = _png_unpredict(
                data,
                int(resolve(p.get("Columns", 1)) or 1),
                int(resolve(p.get("Colors", 1)) or 1),
                int(resolve(p.get("BitsPerComponent", 8)) or 8),
            )
        elif pred != 1:
            raise ValueError(f"pdf: unsupported predictor {pred}")
    return data


# ---------------------------------------------------------------------------
# document
# ---------------------------------------------------------------------------

# anchored to line starts: "N G obj" byte patterns occur INSIDE stream
# data too (a PDF about PDFs, or binary payloads) — real producers and
# our writer always put the object header at a line start
_OBJ_RE = re.compile(rb"(?m)^[\x00\t ]*(\d{1,10})[\x00\t ]+(\d{1,5})[\x00\t ]+obj\b")


class PdfDocument:
    """Parsed PDF: xref-driven random object access with ObjStm support
    and a brute-force scan fallback for damaged crawl files."""

    def __init__(self, data: bytes) -> None:
        if not isinstance(data, (bytes, bytearray, memoryview)):
            raise ValueError("pdf: payload must be bytes")
        data = bytes(data)
        head = data[:1024]
        at = head.find(b"%PDF-")
        if at == -1:
            raise ValueError("pdf: missing %PDF header")
        self.data = data[at:] if at else data
        self._cache: dict[int, object] = {}
        self._offsets: dict[int, int] = {}  # objnum → byte offset
        self._in_objstm: dict[int, tuple[int, int]] = {}  # objnum → (stm num, idx)
        self._rescanned = False
        self.trailer: dict = {}
        try:
            self._load_xref()
        except Exception:
            self._offsets.clear()
            self._in_objstm.clear()
        if not self._offsets:
            self._scan_objects()
        if "Root" not in self.trailer:
            self._find_root_by_scan()

    # -- xref ----------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        at = tail.rfind(b"startxref")
        if at == -1:
            raise ValueError("pdf: no startxref")
        p = _Parser(tail, at + len(b"startxref"))
        offset = p.parse_object()
        seen: set[int] = set()
        while isinstance(offset, int) and 0 <= offset < len(self.data) and offset not in seen:
            seen.add(offset)
            p = _Parser(self.data, offset)
            p.skip_ws()
            if self.data.startswith(b"xref", p.pos):
                trailer = self._load_xref_table(p.pos + 4)
            else:
                trailer = self._load_xref_stream(offset)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            offset = trailer.get("Prev")
            if isinstance(offset, Ref):
                break

    def _load_xref_table(self, pos: int) -> dict:
        p = _Parser(self.data, pos)
        while True:
            p.skip_ws()
            if self.data.startswith(b"trailer", p.pos):
                p.pos += len(b"trailer")
                trailer = p.parse_object()
                if not isinstance(trailer, dict):
                    raise ValueError("pdf: bad trailer")
                # hybrid-reference files: /XRefStm points at an xref stream
                if "XRefStm" in trailer:
                    sub = self._load_xref_stream(int(trailer["XRefStm"]))
                    for k, v in sub.items():
                        trailer.setdefault(k, v)
                return trailer
            start = p.parse_object()
            count = p.parse_object()
            if not isinstance(start, int) or not isinstance(count, int):
                raise ValueError("pdf: bad xref section header")
            p.skip_ws()
            for i in range(count):
                entry = self.data[p.pos : p.pos + 20]
                if len(entry) < 18:
                    raise ValueError("pdf: truncated xref entry")
                off = int(entry[0:10])
                kind = entry[17:18]
                objnum = start + i
                if kind == b"n" and objnum not in self._offsets and objnum not in self._in_objstm:
                    self._offsets[objnum] = off
                p.pos += 20  # entries are exactly 20 bytes (ISO 32000-1 §7.5.4)

    def _load_xref_stream(self, offset: int) -> dict:
        num, _gen, obj = self._parse_indirect_at(offset)
        if not isinstance(obj, PdfStream):
            raise ValueError("pdf: xref stream is not a stream")
        d = obj.dict
        data = decode_stream(self, obj)
        w = [int(x) for x in d["W"]]
        size = int(d["Size"])
        index = d.get("Index", [0, size])
        entry_len = sum(w)
        pos = 0
        for k in range(0, len(index), 2):
            start, count = int(index[k]), int(index[k + 1])
            for i in range(count):
                row = data[pos : pos + entry_len]
                pos += entry_len
                if len(row) < entry_len:
                    raise ValueError("pdf: truncated xref stream")
                fields = []
                at = 0
                for width in w:
                    fields.append(int.from_bytes(row[at : at + width], "big") if width else None)
                    at += width
                ftype = fields[0] if w[0] else 1
                objnum = start + i
                if objnum in self._offsets or objnum in self._in_objstm:
                    continue
                if ftype == 1:
                    self._offsets[objnum] = fields[1]
                elif ftype == 2:
                    self._in_objstm[objnum] = (fields[1], fields[2])
        return dict(d)

    def _scan_objects(self) -> None:
        """Brute-force fallback: last definition of each object wins
        (incremental updates append, so later = newer)."""
        for m in _OBJ_RE.finditer(self.data):
            self._offsets[int(m.group(1))] = m.start()

    def _find_root_by_scan(self) -> None:
        for num in sorted(self._offsets):
            try:
                obj = self.get(num)
            except Exception:
                continue
            d = obj.dict if isinstance(obj, PdfStream) else obj
            if isinstance(d, dict) and str(d.get("Type")) == "Catalog":
                self.trailer["Root"] = Ref(num, 0)
                return
        raise ValueError("pdf: no document catalog")

    # -- object access --------------------------------------------------------

    def _parse_indirect_at(self, offset: int):
        p = _Parser(self.data, offset)
        num = p.parse_object()
        gen = p.parse_object()
        kw = p.parse_object()
        if kw != "obj" or not isinstance(num, int) or not isinstance(gen, int):
            raise ValueError(f"pdf: no indirect object at {offset}")
        body = p.parse_object()
        if isinstance(body, tuple):  # (stream dict, data start)
            d, data_start = body
            length = self.resolve(d.get("Length"))
            if isinstance(length, int) and 0 <= length <= len(self.data) - data_start:
                raw = self.data[data_start : data_start + length]
                tailp = _Parser(self.data, data_start + length)
                tailp.skip_ws()
                if not self.data.startswith(b"endstream", tailp.pos):
                    raw = None  # /Length lies; fall through to search
            else:
                raw = None
            if raw is None:
                end = self.data.find(b"endstream", data_start)
                if end == -1:
                    raise ValueError("pdf: unterminated stream")
                raw = self.data[data_start:end].rstrip(b"\r\n")
            body = PdfStream(d, raw)
        return num, gen, body

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        self._cache[num] = None  # cycle guard
        try:
            if num in self._offsets:
                obj = self._get_by_offset(num)
            elif num in self._in_objstm:
                stm_num, idx = self._in_objstm[num]
                obj = self._objstm_member(stm_num, idx)
            else:
                raise KeyError(f"pdf: object {num} not found")
        except Exception:
            # never leave the cycle guard behind: a later retry (e.g.
            # after a nested fetch triggered the rescan) must re-parse,
            # not read a poisoned None
            self._cache.pop(num, None)
            raise
        self._cache[num] = obj
        return obj

    def _get_by_offset(self, num: int):
        offset = self._offsets[num]
        try:
            got_num, _g, obj = self._parse_indirect_at(offset)
            if got_num != num:
                raise ValueError(f"pdf: xref offset for {num} points at {got_num}")
            return obj
        except ValueError:
            # stale xref (edited/truncated file shifted the byte
            # offsets but left the table parseable): rebuild the offset
            # map by scanning once, then retry. A nested fetch may have
            # already rescanned while this frame was mid-parse — in
            # that case retry iff the rescan moved THIS object.
            if not self._rescanned:
                self._rescanned = True
                self._offsets.clear()
                self._scan_objects()
                # drop everything already parsed from stale offsets;
                # None entries are in-flight cycle guards — keep them
                self._cache = {k: v for k, v in self._cache.items() if v is None}
            if self._offsets.get(num, offset) == offset:
                raise
            got_num, _g, obj = self._parse_indirect_at(self._offsets[num])
            if got_num != num:
                raise ValueError(f"pdf: rescanned offset for {num} points at {got_num}")
            return obj

    def _objstm_member(self, stm_num: int, idx: int):
        cached = getattr(self, "_objstm_cache", None)
        if cached is None:
            cached = self._objstm_cache = {}
        if stm_num not in cached:
            stm = self.get(stm_num)
            if not isinstance(stm, PdfStream):
                raise ValueError("pdf: ObjStm is not a stream")
            data = decode_stream(self, stm)
            n = int(self.resolve(stm.dict["N"]))
            first = int(self.resolve(stm.dict["First"]))
            hp = _Parser(data, 0)
            pairs = []
            for _ in range(n):
                onum = hp.parse_object()
                ooff = hp.parse_object()
                pairs.append((int(onum), int(ooff)))
            # cache the inflated bytes + header: fetching K members of
            # one ObjStm must not re-decompress the stream K times
            cached[stm_num] = (data, first, pairs)
        data, first, pairs = cached[stm_num]
        if idx >= len(pairs):
            raise ValueError("pdf: ObjStm index out of range")
        op = _Parser(data, first + pairs[idx][1])
        return op.parse_object()

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref):
            if depth > 32:
                raise ValueError("pdf: reference cycle")
            try:
                obj = self.get(obj.num)
            except KeyError:
                return None
            depth += 1
        return obj

    # -- page tree -------------------------------------------------------------

    def pages(self) -> list[dict]:
        """Flattened page list in document order, with /Resources and
        /MediaBox inherited down the /Kids tree (ISO 32000-1 §7.7.3.4)."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("pdf: bad catalog")
        top = self.resolve(root.get("Pages"))
        out: list[dict] = []

        def walk(node, inherited: dict, depth: int) -> None:
            if depth > 64 or not isinstance(node, dict) or len(out) >= 10_000:
                return
            inh = dict(inherited)
            for key in ("Resources", "MediaBox", "Rotate"):
                if key in node:
                    inh[key] = node[key]
            if str(node.get("Type")) == "Page" or ("Contents" in node and "Kids" not in node):
                page = dict(node)
                for key, val in inh.items():
                    page.setdefault(key, val)
                out.append(page)
                return
            for kid in self.resolve(node.get("Kids")) or []:
                walk(self.resolve(kid), inh, depth + 1)

        walk(top, {}, 0)
        return out


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

# WinAnsiEncoding is cp1252; the five cp1252 holes map to U+FFFD. Built
# once: every simple font starts from a copy.
_CP1252_HOLES = {0x81, 0x8D, 0x8F, 0x90, 0x9D}
_WINANSI = tuple(
    "�" if c in _CP1252_HOLES else bytes([c]).decode("cp1252", errors="replace")
    for c in range(256)
)


# Minimal Adobe-Glyph-List subset for /Differences (covers the names a
# from-scratch writer and common crawl PDFs actually use).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "quotesingle": "'", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "colon": ":", "semicolon": ";", "less": "<",
    "equal": "=", "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4", "five": "5",
    "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "Euro": "€", "trademark": "™",
}


def _glyph_name_to_char(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    return "�"


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap → {code: str}."""
    cmap: dict[int, str] = {}
    p = _Parser(data, 0)
    while p.pos < p.n:
        try:
            tok = p.parse_object()
        except ValueError:
            break
        if tok == "beginbfchar":
            ops = []
            while True:
                o = p.parse_object()
                if o == "endbfchar":
                    break
                ops.append(o)
            for k in range(0, len(ops) - 1, 2):
                src, dst = ops[k], ops[k + 1]
                if isinstance(src, bytes) and isinstance(dst, bytes):
                    cmap[int.from_bytes(src, "big")] = dst.decode("utf-16-be", "replace")
        elif tok == "beginbfrange":
            ops = []
            while True:
                o = p.parse_object()
                if o == "endbfrange":
                    break
                ops.append(o)
            for k in range(0, len(ops) - 2, 3):
                lo, hi, dst = ops[k], ops[k + 1], ops[k + 2]
                if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                    continue
                lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
                if isinstance(dst, bytes):
                    base = dst.decode("utf-16-be", "replace")
                    for c in range(lo_i, min(hi_i, lo_i + 65535) + 1):
                        if base:
                            cmap[c] = base[:-1] + chr(ord(base[-1]) + (c - lo_i))
                elif isinstance(dst, list):
                    for j, item in enumerate(dst):
                        if isinstance(item, bytes) and lo_i + j <= hi_i:
                            cmap[lo_i + j] = item.decode("utf-16-be", "replace")
    return cmap


# advance tables kept per font before the cache is dropped: a stream
# that changes Tf/Tc/Tw/Tz before every show must not grow it unbounded
_MAX_ADVANCE_TABLES = 64


class _Advances(dict):
    """Byte → advance term of one simple font under one ``(size, Tc,
    Tw, Th)``, each term computed on first use."""

    def __init__(self, font: "_Font", size: float, char_sp: float, word_sp: float, hscale: float) -> None:
        super().__init__()
        self.args = (font, size, char_sp, word_sp, hscale)

    def __missing__(self, b: int) -> float:
        font, size, char_sp, word_sp, hscale = self.args
        w = font.widths.get(b, font.default_width)
        term = self[b] = (w / 1000.0 * size + char_sp + (word_sp if font.simple_map[b] == " " else 0.0)) * hscale
        return term


@dataclass
class _Font:
    """Decoded font: maps show-string bytes → (text, pen advance)."""

    type0: bool = False
    cmap: dict[int, str] = field(default_factory=dict)  # for type0
    simple_map: list[str] = field(default_factory=list)  # 256 entries
    widths: dict[int, float] = field(default_factory=dict)
    default_width: float = 500.0
    # simple fonts, built on first show (the fields above are final by then)
    _translate: tuple[str, ...] | None = field(default=None, init=False, repr=False)
    _advances: dict[tuple, _Advances] = field(default_factory=dict, init=False, repr=False)

    def text_advance(
        self, raw: bytes, size: float, char_sp: float, word_sp: float, hscale: float
    ) -> tuple[str, float]:
        """The text ``raw`` shows and its pen advance in text space: the
        per-glyph terms ``(w / 1000 × size + Tc [+ Tw on a decoded
        space, simple fonts]) × Th`` folded left to right from 0.0."""
        if self.type0:
            codes = struct.unpack(f">{len(raw) // 2}H", raw[: len(raw) & ~1])
            cmap, widths, dw = self.cmap, self.widths, self.default_width
            text = "".join([cmap.get(c, "�") for c in codes])
            terms = [(widths.get(c, dw) / 1000.0 * size + char_sp) * hscale for c in codes]
            return text, reduce(add, terms, 0.0)
        if self._translate is None:
            self._translate = tuple(self.simple_map)
        key = (size, char_sp, word_sp, hscale)
        table = self._advances.get(key)
        if table is None:
            if len(self._advances) >= _MAX_ADVANCE_TABLES:
                self._advances.clear()
            table = self._advances[key] = _Advances(self, size, char_sp, word_sp, hscale)
        return raw.decode("latin-1").translate(self._translate), reduce(add, map(table.__getitem__, raw), 0.0)


def _load_font(doc: PdfDocument, fdict: dict) -> _Font:
    fdict = {k: v for k, v in fdict.items()}
    subtype = str(doc.resolve(fdict.get("Subtype", "")))
    font = _Font()
    if subtype == "Type0":
        font.type0 = True
        desc = doc.resolve(fdict.get("DescendantFonts"))
        dfont = doc.resolve(desc[0]) if isinstance(desc, list) and desc else {}
        tu = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(tu, PdfStream):
            font.cmap = _parse_tounicode(decode_stream(doc, tu))
        font.default_width = float(doc.resolve(dfont.get("DW", 1000)) or 1000)
        w = doc.resolve(dfont.get("W")) or []
        i = 0
        while i < len(w):
            start = int(doc.resolve(w[i]))
            nxt = doc.resolve(w[i + 1]) if i + 1 < len(w) else None
            if isinstance(nxt, list):
                for j, width in enumerate(nxt):
                    font.widths[start + j] = float(doc.resolve(width))
                i += 2
            else:
                end = int(nxt)
                width = float(doc.resolve(w[i + 2]))
                for c in range(start, end + 1):
                    font.widths[c] = width
                i += 3
        return font
    # simple font
    enc = doc.resolve(fdict.get("Encoding"))
    base_map = list(_WINANSI)
    if isinstance(enc, dict):
        diffs = doc.resolve(enc.get("Differences")) or []
        code = 0
        for item in diffs:
            item = doc.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                if 0 <= code < 256:
                    base_map[code] = _glyph_name_to_char(str(item))
                code += 1
    font.simple_map = base_map
    first = doc.resolve(fdict.get("FirstChar"))
    widths = doc.resolve(fdict.get("Widths"))
    if isinstance(first, int) and isinstance(widths, list):
        for j, width in enumerate(widths):
            font.widths[first + j] = float(doc.resolve(width) or 0)
    fd = doc.resolve(fdict.get("FontDescriptor")) or {}
    font.default_width = float(doc.resolve(fd.get("MissingWidth", 500)) or 500)
    return font


# ---------------------------------------------------------------------------
# content interpretation
# ---------------------------------------------------------------------------

_ID_MAT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m, n):
    return (
        m[0] * n[0] + m[1] * n[2],
        m[0] * n[1] + m[1] * n[3],
        m[2] * n[0] + m[3] * n[2],
        m[2] * n[1] + m[3] * n[3],
        m[4] * n[0] + m[5] * n[2] + n[4],
        m[4] * n[1] + m[5] * n[3] + n[5],
    )


def _page_rotation_ctm(doc: "PdfDocument", page: dict):
    """Base CTM honoring /Rotate (inherited, multiples of 90): map
    user space into the DISPLAYED orientation so reading order and
    column banding follow what a human sees, not how the producer
    happened to lay the page on its side (common in scanned crawl
    PDFs). 90 = clockwise display: the user-space left edge becomes
    the display top edge."""
    try:
        rot = int(doc.resolve(page.get("Rotate", 0)) or 0) % 360
    except (ValueError, TypeError):
        return _ID_MAT
    if rot == 0:
        return _ID_MAT
    box = doc.resolve(page.get("MediaBox")) or [0, 0, 612, 792]
    try:
        w = float(doc.resolve(box[2])) - float(doc.resolve(box[0]))
        h = float(doc.resolve(box[3])) - float(doc.resolve(box[1]))
    except (ValueError, TypeError, IndexError):
        w, h = 612.0, 792.0
    if rot == 90:
        return (0.0, -1.0, 1.0, 0.0, 0.0, w)
    if rot == 180:
        return (-1.0, 0.0, 0.0, -1.0, w, h)
    if rot == 270:
        return (0.0, 1.0, -1.0, 0.0, h, 0.0)
    return _ID_MAT


@dataclass
class TextRun:
    """One shown string in device space (the PDF analog of a detected
    text box: position + extent + payload)."""

    x: float  # device-space start of the run baseline
    y: float
    x_end: float  # device-space pen position after the run
    size: float  # device-space font size (vertical scale applied)
    text: str


class _TextExtractor:
    __slots__ = ("doc", "runs", "_font_cache")

    def __init__(self, doc: PdfDocument) -> None:
        self.doc = doc
        self.runs: list[TextRun] = []
        self._font_cache: dict[int, _Font] = {}

    def _font_for(self, resources: dict, name: str) -> _Font:
        fonts = self.doc.resolve(resources.get("Font")) or {}
        fref = fonts.get(name)
        key = fref.num if isinstance(fref, Ref) else id(fref)
        if key not in self._font_cache:
            fdict = self.doc.resolve(fref)
            self._font_cache[key] = (
                _load_font(self.doc, fdict) if isinstance(fdict, dict) else _Font(simple_map=list(_WINANSI))
            )
        return self._font_cache[key]

    def run_page(self, page: dict) -> list[TextRun]:
        self.runs = []
        contents = self.doc.resolve(page.get("Contents"))
        if isinstance(contents, PdfStream):
            streams = [contents]
        elif isinstance(contents, list):
            streams = [s for s in (self.doc.resolve(c) for c in contents) if isinstance(s, PdfStream)]
        else:
            streams = []
        data = b"\n".join(decode_stream(self.doc, s) for s in streams)
        resources = self.doc.resolve(page.get("Resources")) or {}
        self._exec(data, resources, _page_rotation_ctm(self.doc, page), 0)
        return self.runs

    def _exec(self, data: bytes, resources: dict, ctm, depth: int) -> None:
        if depth > 8:
            return
        doc = self.doc
        p = _Parser(data, 0)
        stack: list = []
        gs_stack: list = []
        font: _Font | None = None
        size = 0.0
        char_sp = 0.0
        word_sp = 0.0
        hscale = 1.0
        leading = 0.0
        rise = 0.0
        tm = tlm = _ID_MAT
        in_text = False

        def show(raw: bytes) -> None:
            nonlocal tm
            if font is None or not isinstance(raw, bytes):
                return
            trm = _mat_mul(tm, ctm)
            # Ts rise shifts the glyph origin by (0, rise) in text
            # space: transform through trm's linear part
            x0 = trm[4] + rise * trm[2]
            y0 = trm[5] + rise * trm[3]
            # a glyph is `size` tall in text space (Tf size is not part
            # of Tm); device size = size × |trm y-basis (c, d)|
            dev_size = size * (trm[2] ** 2 + trm[3] ** 2) ** 0.5
            text, adv = font.text_advance(raw, size, char_sp, word_sp, hscale)
            tm_after = _mat_mul((1, 0, 0, 1, adv, 0), tm)
            trm_after = _mat_mul(tm_after, ctm)
            if text:
                self.runs.append(TextRun(x=x0, y=y0, x_end=trm_after[4], size=dev_size, text=text))
            tm = tm_after

        while True:
            try:
                tok = p.parse_object()
            except ValueError:  # end of stream or a token that cannot parse
                break
            if not isinstance(tok, str) or isinstance(tok, Name):
                stack.append(tok)
                continue
            op = tok
            try:
                if op == "BT":
                    in_text = True
                    tm = tlm = _ID_MAT
                elif op == "ET":
                    in_text = False
                elif op == "Tf" and len(stack) >= 2:
                    size = float(stack[-1])
                    font = self._font_for(resources, str(stack[-2]))
                elif op == "Td" and len(stack) >= 2:
                    tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == "TD" and len(stack) >= 2:
                    leading = -float(stack[-1])
                    tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                    tm = tlm
                elif op == "Tm" and len(stack) >= 6:
                    tm = tlm = tuple(float(v) for v in stack[-6:])
                elif op == "T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                    tm = tlm
                elif op == "TL" and stack:
                    leading = float(stack[-1])
                elif op == "Tc" and stack:
                    char_sp = float(stack[-1])
                elif op == "Tw" and stack:
                    word_sp = float(stack[-1])
                elif op == "Tz" and stack:
                    hscale = float(stack[-1]) / 100.0
                elif op == "Ts" and stack:
                    rise = float(stack[-1])
                elif op == "Tj" and stack and in_text:
                    show(stack[-1])
                elif op == "'" and stack and in_text:
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == '"' and len(stack) >= 3 and in_text:
                    word_sp = float(stack[-3])
                    char_sp = float(stack[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == "TJ" and stack and in_text:
                    arr = stack[-1]
                    if isinstance(arr, list):
                        for item in arr:
                            if isinstance(item, bytes):
                                show(item)
                            elif isinstance(item, (int, float)):
                                dx = -float(item) / 1000.0 * size * hscale
                                tm = _mat_mul((1, 0, 0, 1, dx, 0), tm)
                elif op == "q":
                    # ISO 32000-1 §8.4: the saved graphics state spans
                    # the text-state parameters too, not just the CTM —
                    # a font/Tc set inside q…Q must not leak past the Q
                    gs_stack.append((ctm, font, size, char_sp, word_sp, hscale, leading, rise))
                elif op == "Q":
                    if gs_stack:
                        ctm, font, size, char_sp, word_sp, hscale, leading, rise = gs_stack.pop()
                elif op == "cm" and len(stack) >= 6:
                    ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
                elif op == "Do" and stack:
                    xobjs = doc.resolve(resources.get("XObject")) or {}
                    xo = doc.resolve(xobjs.get(str(stack[-1])))
                    if isinstance(xo, PdfStream) and str(doc.resolve(xo.dict.get("Subtype"))) == "Form":
                        sub_ctm = ctm
                        mtx = doc.resolve(xo.dict.get("Matrix"))
                        if isinstance(mtx, list) and len(mtx) == 6:
                            sub_ctm = _mat_mul(tuple(float(v) for v in mtx), ctm)
                        sub_res = doc.resolve(xo.dict.get("Resources")) or resources
                        self._exec(decode_stream(doc, xo), sub_res, sub_ctm, depth + 1)
                elif op == "BI":
                    # inline image: skip past the ID binary blob to a
                    # DELIMITED EI — the raw pixels can contain the two
                    # bytes 'EI', and resuming there would feed binary
                    # to the parser (a stray '(' then swallows real text)
                    at = data.find(b"ID", p.pos)
                    end = -1
                    search = at + 3 if at != -1 else -1
                    while search != -1:
                        cand = data.find(b"EI", search)
                        if cand == -1:
                            break
                        before_ws = cand > 0 and data[cand - 1] in _WS
                        after = data[cand + 2 : cand + 3]
                        if before_ws and (not after or after[0] in _WS or after[0] in _DELIM):
                            end = cand
                            break
                        search = cand + 2
                    if end == -1:
                        break
                    p.pos = end + 2
            except (ValueError, TypeError, KeyError, OverflowError):
                pass  # total: one bad operator never kills the page
            stack = []


# ---------------------------------------------------------------------------
# line assembly (deterministic; pinned by tests)
# ---------------------------------------------------------------------------

_Y_TOL_FRAC = 0.4  # same-line baseline tolerance × min(font sizes)
_GAP_FRAC = 0.18  # word gap threshold × previous run's font size
_COL_SPLIT_FRAC = 3.0  # gap wider than this × size = column gutter, not a space


@dataclass
class PdfLine:
    page: int
    x: float
    y: float
    size: float
    text: str
    x_end: float = 0.0  # device-space end of the line (layout banding)


def assemble_lines(runs: list[TextRun], page: int) -> list[PdfLine]:
    """Group runs into baseline lines, reading order top-to-bottom then
    left-to-right; a gap wider than ``_GAP_FRAC × size`` becomes one
    space (the C2 reading-order analog for the PDF leg)."""
    if not runs:
        return []
    order = sorted(range(len(runs)), key=lambda i: (-runs[i].y, runs[i].x, i))
    lines: list[list[TextRun]] = []
    for idx in order:
        r = runs[idx]
        if lines:
            last = lines[-1][0]
            tol = _Y_TOL_FRAC * min(r.size or 1.0, last.size or 1.0)
            if abs(r.y - last.y) <= max(tol, 1e-9):
                lines[-1].append(r)
                continue
        lines.append([r])
    out: list[PdfLine] = []
    for group in lines:
        group.sort(key=lambda r: r.x)
        # a gap beyond _COL_SPLIT_FRAC × size is a column gutter: split
        # into separate lines so order_page_lines can band the columns
        # (intra-line word gaps are ≲1 em; gutters are many ems)
        pieces: list[list[TextRun]] = [[group[0]]]
        for prev, cur in zip(group, group[1:]):
            if cur.x - prev.x_end > _COL_SPLIT_FRAC * (prev.size or 1.0):
                pieces.append([cur])
            else:
                pieces[-1].append(cur)
        for piece in pieces:
            parts = [piece[0].text]
            for prev, cur in zip(piece, piece[1:]):
                gap = cur.x - prev.x_end
                if gap > _GAP_FRAC * (prev.size or 1.0):
                    parts.append(" ")
                parts.append(cur.text)
            text = "".join(parts)
            if text.strip():
                out.append(
                    PdfLine(
                        page=page,
                        x=piece[0].x,
                        y=piece[0].y,
                        size=piece[0].size,
                        text=text,
                        x_end=piece[-1].x_end,
                    )
                )
    return order_page_lines(out)


def order_page_lines(lines: list[PdfLine]) -> list[PdfLine]:
    """Column-aware reading order (the "layout parse" half of the
    north rule's PDF leg) — a one-level XY-cut:

    1. Merge the lines' x-intervals into disjoint **bands**. One band
       (the single-column case) → the incoming top-to-bottom order is
       returned untouched, so flat documents are bit-identical to the
       band-free assembly.
    2. With ≥2 bands, a line whose interval touches more than one band
       is a **spanner** (a full-width title or section rule). Spanners
       split the page into vertical sections; within each section,
       columns are read left-to-right, each top-to-bottom — the
       reading order a human applies to a two-column page.

    Deterministic: banding and section splits depend only on line
    geometry, never on input order."""
    if len(lines) < 2:
        return lines

    def merge(ivs: list[tuple[float, float]]) -> list[list[float]]:
        bands: list[list[float]] = []
        for lo, hi in sorted(ivs):
            if bands and lo <= bands[-1][1]:
                bands[-1][1] = max(bands[-1][1], hi)
            else:
                bands.append([lo, hi])
        return bands

    spans = [(ln.x, max(ln.x_end, ln.x)) for ln in lines]
    full = merge(spans)
    page_w = full[-1][1] - full[0][0]
    if page_w <= 0:
        return lines
    # a line wider than 55% of the content width cannot sit beside a
    # sibling column — exclude these spanner CANDIDATES from banding so
    # a full-width title does not weld the columns together
    narrow = [iv for iv in spans if iv[1] - iv[0] <= 0.55 * page_w]
    bands = merge(narrow)
    if len(bands) < 2:
        return lines

    def band_of(ln: PdfLine) -> int:
        """Band index, or -1 for spanners (touching ≥2 bands / none)."""
        hit = -1
        for k, (lo, hi) in enumerate(bands):
            if ln.x <= hi and max(ln.x_end, ln.x) >= lo:
                if hit != -1:
                    return -1
                hit = k
        return hit

    tagged = [(ln, band_of(ln)) for ln in lines]
    spanners = sorted((ln for ln, b in tagged if b == -1), key=lambda ln: -ln.y)
    cuts = [float("inf")] + [ln.y for ln in spanners] + [float("-inf")]
    out: list[PdfLine] = []
    for s in range(len(cuts) - 1):
        top, bot = cuts[s], cuts[s + 1]
        section = [(ln, b) for ln, b in tagged if b != -1 and bot < ln.y <= top]
        for k in range(len(bands)):
            out.extend(
                sorted((ln for ln, b in section if b == k), key=lambda ln: (-ln.y, ln.x))
            )
        if s + 1 < len(cuts) - 1:
            out.append(spanners[s])
    return out


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def is_pdf(payload: bytes) -> bool:
    return isinstance(payload, (bytes, bytearray, memoryview)) and b"%PDF-" in bytes(
        payload[:1024]
    )


def pdf_text_lines(payload: bytes) -> list[PdfLine]:
    """payload → ordered text lines across all pages. Raises
    ``ValueError`` on a hopeless payload (no header / no catalog) and
    on encrypted documents (strings/streams are RC4/AES ciphertext —
    emitting them as text would be silent garbage, the one failure
    mode worse than an empty result)."""
    doc = PdfDocument(payload)
    if "Encrypt" in doc.trailer:
        raise ValueError("pdf: encrypted document")
    ex = _TextExtractor(doc)
    out: list[PdfLine] = []
    for pno, page in enumerate(doc.pages()):
        try:
            runs = ex.run_page(page)
        except (ValueError, TypeError, KeyError, OverflowError, zlib.error):
            continue  # damaged page: keep the rest of the document
        out.extend(assemble_lines(runs, pno))
    return out


def pdf_extract_text(payload: bytes) -> str:
    """The T5 doc-assembly contract over the PDF leg: '\\n'.join of
    lines in reading order (never raises; damaged → '')."""
    try:
        return "\n".join(ln.text for ln in pdf_text_lines(payload))
    except (ValueError, TypeError, KeyError, OverflowError, zlib.error, RecursionError):
        return ""


def pdf_images(payload: bytes) -> list[dict]:
    """Extract embedded raster images — the multimodal half of crawl-
    PDF processing (figures/scans as training data). Walks each page's
    XObject resources (one level of Form nesting): ``/Subtype /Image``
    with ``/DCTDecode`` routes to the from-scratch baseline/progressive
    JPEG decoder (:mod:`.jpeg`); Flate/LZW/A85-wrapped 8-bit
    DeviceRGB/DeviceGray rasters decode via the filter chain; anything
    else (CCITT, JBIG2, JPX, palettes, 1-bit masks) is reported with
    ``decoder='unsupported'`` and ``pixels=None`` — honest inventory,
    never a fake. Returns dicts of (page, name, width, height,
    channels, decoder, pixels)."""
    import numpy as np

    doc = PdfDocument(payload)
    if "Encrypt" in doc.trailer:
        raise ValueError("pdf: encrypted document")
    out: list[dict] = []

    def harvest(res: dict, pno: int, depth: int) -> None:
        xobjs = doc.resolve(res.get("XObject")) or {}
        if not isinstance(xobjs, dict):
            return
        for name in sorted(xobjs):
            xo = doc.resolve(xobjs[name])
            if not isinstance(xo, PdfStream):
                continue
            sub = str(doc.resolve(xo.dict.get("Subtype", "")))
            if sub == "Form" and depth < 4:
                harvest(doc.resolve(xo.dict.get("Resources")) or {}, pno, depth + 1)
                continue
            if sub != "Image":
                continue
            width = int(doc.resolve(xo.dict.get("Width", 0)) or 0)
            height = int(doc.resolve(xo.dict.get("Height", 0)) or 0)
            bpc = int(doc.resolve(xo.dict.get("BitsPerComponent", 8)) or 8)
            cs = str(doc.resolve(xo.dict.get("ColorSpace", "")))
            filters = doc.resolve(xo.dict.get("Filter"))
            if isinstance(filters, (Name, str)):
                filters = [str(filters)]
            elif isinstance(filters, list):
                filters = [str(doc.resolve(f)) for f in filters]
            else:
                filters = []
            entry = {
                "page": pno,
                "name": str(name),
                "width": width,
                "height": height,
                "channels": 0,
                "decoder": "unsupported",
                "pixels": None,
            }
            try:
                if filters and filters[-1] in ("DCTDecode", "DCT"):
                    # apply any preceding transport filters, then JPEG
                    raw = xo.raw
                    if len(filters) > 1:
                        pre = PdfStream(
                            {"Filter": [Name(f) for f in filters[:-1]]}, raw
                        )
                        raw = decode_stream(doc, pre)
                    from .jpeg import decode_jpeg

                    px = decode_jpeg(raw)
                    entry.update(
                        channels=1 if px.ndim == 2 else px.shape[2],
                        decoder="stdlib-jpeg",
                        pixels=px,
                        width=px.shape[1],
                        height=px.shape[0],
                    )
                elif bpc == 8 and cs in ("DeviceRGB", "DeviceGray"):
                    data = decode_stream(doc, xo)
                    ch = 3 if cs == "DeviceRGB" else 1
                    if len(data) >= width * height * ch > 0:
                        px = np.frombuffer(
                            data[: width * height * ch], dtype=np.uint8
                        ).reshape(height, width, ch)
                        entry.update(channels=ch, decoder="raw", pixels=px)
            except (ValueError, KeyError, TypeError, zlib.error):
                pass  # damaged image: keep the honest 'unsupported' row
            out.append(entry)

    for pno, page in enumerate(doc.pages()):
        harvest(doc.resolve(page.get("Resources")) or {}, pno, 0)
    return out


# ---------------------------------------------------------------------------
# deterministic writer (fixtures/oracles only)
# ---------------------------------------------------------------------------


def _esc_string(raw: bytes) -> bytes:
    out = bytearray(b"(")
    for b in raw:
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif b < 0x20 or b > 0x7E:
            out += f"\\{b:03o}".encode()
        else:
            out.append(b)
    out += b")"
    return bytes(out)


def _fmt_num(x: float) -> bytes:
    if isinstance(x, int) or float(x).is_integer():
        return str(int(x)).encode()
    return f"{x:.4f}".rstrip("0").rstrip(".").encode()


class _Writer:
    def __init__(self) -> None:
        self.objs: dict[int, bytes] = {}
        self.next_num = 1

    def add(self, body: bytes) -> int:
        num = self.next_num
        self.next_num += 1
        self.objs[num] = body
        return num

    def add_stream(self, d: dict[str, bytes], data: bytes, compress: bool) -> int:
        if compress:
            data = zlib.compress(data, 6)
            d = dict(d)
            d["Filter"] = b"/FlateDecode"
        d["Length"] = str(len(data)).encode()
        ent = b"<< " + b" ".join(b"/" + k.encode() + b" " + v for k, v in d.items()) + b" >>"
        return self.add(ent + b"\nstream\n" + data + b"\nendstream")


def _content_for_page(
    runs: list[tuple[float, float, float, str]],
    variant: str,
    encode_text,
) -> bytes:
    """runs: (x, y, size, text) in PDF user space."""
    ops: list[bytes] = []
    if variant == "tm":
        ops.append(b"BT")
        for x, y, size, text in runs:
            ops.append(b"/F1 " + _fmt_num(size) + b" Tf")
            ops.append(b"1 0 0 1 " + _fmt_num(x) + b" " + _fmt_num(y) + b" Tm")
            ops.append(encode_text(text) + b" Tj")
        ops.append(b"ET")
    elif variant == "tjarr":
        ops.append(b"BT")
        for x, y, size, text in runs:
            ops.append(b"/F1 " + _fmt_num(size) + b" Tf")
            ops.append(b"1 0 0 1 " + _fmt_num(x) + b" " + _fmt_num(y) + b" Tm")
            # split on spaces; emit words with explicit kern gaps that the
            # assembler's gap rule re-reads as a single space each
            words = text.split(" ")
            arr = b"[" + encode_text(words[0])
            for w in words[1:]:
                arr += b" -500 " + encode_text(w)
            arr += b"]"
            ops.append(arr + b" TJ")
        ops.append(b"ET")
    elif variant == "quote":
        ops.append(b"BT")
        if runs:
            x0, y0, size0, _ = runs[0]
            ops.append(b"/F1 " + _fmt_num(size0) + b" Tf")
            lead = _fmt_num(size0 * 1.2)
            ops.append(lead + b" TL")
            ops.append(b"1 0 0 1 " + _fmt_num(x0) + b" " + _fmt_num(y0 + size0 * 1.2) + b" Tm")
            for _x, _y, _size, text in runs:
                ops.append(encode_text(text) + b" '")
        ops.append(b"ET")
    else:  # "td" default: one BT, absolute first Td then deltas
        ops.append(b"BT")
        px, py = 0.0, 0.0
        for x, y, size, text in runs:
            ops.append(b"/F1 " + _fmt_num(size) + b" Tf")
            ops.append(_fmt_num(x - px) + b" " + _fmt_num(y - py) + b" Td")
            ops.append(encode_text(text) + b" Tj")
            px, py = x, y
        ops.append(b"ET")
    return b"\n".join(ops)


def encode_pdf(
    pages: list[list[tuple[float, float, float, str]]],
    *,
    compress: bool = True,
    variant: str = "td",
    hex_strings: bool = False,
    xref_stream: bool = False,
    objstm: bool = False,
    unicode_font: bool = False,
    predictor: bool = False,
    explicit_widths: bool = False,
    images: dict[int, list] | None = None,
) -> bytes:
    """Serialize pages of (x, y, size, text) runs into a real PDF.

    ``unicode_font`` switches to a Type0/Identity-H font with a
    ToUnicode CMap (arbitrary unicode text); otherwise text must be
    cp1252-encodable. ``xref_stream`` writes a PDF 1.5 cross-reference
    stream (optionally PNG-up ``predictor``-filtered); ``objstm``
    additionally packs the non-stream objects into an ObjStm.
    """
    w = _Writer()

    if unicode_font:
        charset: list[str] = []
        seen: dict[str, int] = {}
        for page in pages:
            for _x, _y, _s, text in page:
                for ch in text:
                    if ch not in seen:
                        seen[ch] = len(charset) + 1  # CID 0 = notdef
                        charset.append(ch)

        def encode_text(text: str) -> bytes:
            raw = b"".join((seen[ch]).to_bytes(2, "big") for ch in text)
            return b"<" + raw.hex().encode() + b">"

    else:

        def encode_text(text: str) -> bytes:
            raw = text.encode("cp1252")
            if hex_strings:
                return b"<" + raw.hex().encode() + b">"
            return _esc_string(raw)

    # image XObjects: images[page_idx] = [("jpeg", jpeg_bytes, w, h) |
    # ("raw", HxWx3-or-HxW uint8 ndarray)]; placed below the text block
    img_objs: dict[int, list[tuple[str, int]]] = {}
    for pidx, imgs in (images or {}).items():
        entries = []
        for k, spec in enumerate(imgs):
            name = f"Im{k}"
            if spec[0] == "jpeg":
                _tag, jpg, iw, ih = spec
                num = w.add(
                    b"<< /Type /XObject /Subtype /Image /Width " + str(iw).encode()
                    + b" /Height " + str(ih).encode()
                    + b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode"
                    + b" /Length " + str(len(jpg)).encode() + b" >>\nstream\n" + jpg
                    + b"\nendstream"
                )
            else:
                arr = spec[1]
                ih, iw = arr.shape[0], arr.shape[1]
                ch = 1 if arr.ndim == 2 else arr.shape[2]
                cs = b"/DeviceGray" if ch == 1 else b"/DeviceRGB"
                comp = zlib.compress(arr.tobytes(), 6)
                num = w.add(
                    b"<< /Type /XObject /Subtype /Image /Width " + str(iw).encode()
                    + b" /Height " + str(ih).encode() + b" /ColorSpace " + cs
                    + b" /BitsPerComponent 8 /Filter /FlateDecode /Length "
                    + str(len(comp)).encode() + b" >>\nstream\n" + comp + b"\nendstream"
                )
            entries.append((name, num))
        img_objs[pidx] = entries

    def page_content(pidx: int, page) -> bytes:
        ops = _content_for_page(page, variant, encode_text)
        for k, (name, _num) in enumerate(img_objs.get(pidx, [])):
            ops += (
                b"\nq 100 0 0 80 " + _fmt_num(72 + 110 * k) + b" 80 cm /"
                + name.encode() + b" Do Q"
            )
        return ops

    content_nums = [
        w.add_stream({}, page_content(pidx, page), compress)
        for pidx, page in enumerate(pages)
    ]

    if unicode_font:
        bfchars = b"\n".join(
            b"<" + cid.to_bytes(2, "big").hex().encode() + b"> <"
            + ch.encode("utf-16-be").hex().encode() + b">"
            for ch, cid in seen.items()
        )
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n1 begincodespacerange\n<0000> <ffff>\n"
            b"endcodespacerange\n" + str(len(seen)).encode() + b" beginbfchar\n" + bfchars
            + b"\nendbfchar\nend"
        )
        tounicode = w.add_stream({}, cmap, compress)
        cidfont = w.add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synthetic "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> "
            b"/DW 500 >>"
        )
        font = w.add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic /Encoding /Identity-H "
            b"/DescendantFonts [" + str(cidfont).encode() + b" 0 R] /ToUnicode "
            + str(tounicode).encode() + b" 0 R >>"
        )
    else:
        if explicit_widths:
            widths = b"[" + b" ".join([b"500"] * 256) + b"]"
            font = w.add(
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding /WinAnsiEncoding /FirstChar 0 /LastChar 255 /Widths " + widths + b" >>"
            )
        else:
            # constant-width synthetic font: omitting /Widths means the
            # parser's documented MissingWidth default (500) applies —
            # same metrics, and it halves parse time per document (the
            # 256-number array dominated the per-doc object parse)
            font = w.add(
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding /WinAnsiEncoding >>"
            )

    page_nums = []
    pages_num = w.next_num + len(pages)  # reserve: pages object after kids
    for pidx, cnum in enumerate(content_nums):
        xres = b""
        if img_objs.get(pidx):
            xres = b" /XObject << " + b" ".join(
                b"/" + name.encode() + b" " + str(num).encode() + b" 0 R"
                for name, num in img_objs[pidx]
            ) + b" >>"
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent " + str(pages_num).encode() + b" 0 R "
                b"/MediaBox [0 0 612 792] /Resources << /Font << /F1 "
                + str(font).encode() + b" 0 R >>" + xres + b" >> /Contents "
                + str(cnum).encode() + b" 0 R >>"
            )
        )
    kids = b" ".join(str(p).encode() + b" 0 R" for p in page_nums)
    got = w.add(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count " + str(len(pages)).encode() + b" >>"
    )
    if got != pages_num:
        raise AssertionError(f"pdf writer: pages object landed at {got}, reserved {pages_num}")
    catalog = w.add(b"<< /Type /Catalog /Pages " + str(pages_num).encode() + b" 0 R >>")

    # --- serialize ---
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n" if (xref_stream or objstm) else b"%PDF-1.4\n")
    offsets: dict[int, int] = {}

    if objstm:
        # non-stream objects go into one ObjStm; streams stay top-level
        stream_objs = {n for n in w.objs if b"stream" in w.objs[n][:200] and b"/Length" in w.objs[n][:200]}
        packed = [n for n in sorted(w.objs) if n not in stream_objs]
        loose = [n for n in sorted(w.objs) if n in stream_objs]
        bodies = b""
        header = b""
        memb_off = []
        for n in packed:
            memb_off.append((n, len(bodies)))
            bodies += w.objs[n] + b"\n"
        header = b" ".join(str(n).encode() + b" " + str(off).encode() for n, off in memb_off)
        header += b"\n"
        stm_data = header + bodies
        stm_num = w.next_num
        w.next_num += 1
        comp = zlib.compress(stm_data, 6)
        w.objs[stm_num] = (
            b"<< /Type /ObjStm /N " + str(len(packed)).encode() + b" /First "
            + str(len(header)).encode() + b" /Length " + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream"
        )
        for n in loose + [stm_num]:
            offsets[n] = len(out)
            out += str(n).encode() + b" 0 obj\n" + w.objs[n] + b"\nendobj\n"
        in_stm = {n: (stm_num, i) for i, (n, _o) in enumerate(memb_off)}
    else:
        in_stm = {}
        for n in sorted(w.objs):
            offsets[n] = len(out)
            out += str(n).encode() + b" 0 obj\n" + w.objs[n] + b"\nendobj\n"

    size = w.next_num + (1 if xref_stream or objstm else 0)
    if xref_stream or objstm:
        xref_num = w.next_num
        rows = bytearray()
        entries = [(0, 0, 65535)]  # obj 0: free
        for n in range(1, size):
            if n in offsets:
                entries.append((1, offsets[n], 0))
            elif n in in_stm:
                entries.append((2, in_stm[n][0], in_stm[n][1]))
            elif n == xref_num:
                entries.append((1, len(out), 0))
            else:
                entries.append((0, 0, 65535))
        for t, a, b in entries:
            rows += bytes([t]) + a.to_bytes(4, "big") + b.to_bytes(2, "big")
        parms = b""
        data = bytes(rows)
        if predictor:
            rowlen = 7
            filt = bytearray()
            prev = bytes(rowlen)
            for k in range(0, len(data), rowlen):
                row = data[k : k + rowlen]
                filt.append(2)  # Up
                filt += bytes((row[j] - prev[j]) & 0xFF for j in range(rowlen))
                prev = row
            data = bytes(filt)
            parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
        comp = zlib.compress(data, 6)
        xref_off = len(out)
        out += (
            str(xref_num).encode() + b" 0 obj\n<< /Type /XRef /Size " + str(size).encode()
            + b" /W [1 4 2] /Root " + str(catalog).encode() + b" 0 R /Filter /FlateDecode"
            + parms + b" /Length " + str(len(comp)).encode() + b" >>\nstream\n" + comp
            + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
    else:
        xref_off = len(out)
        out += b"xref\n0 " + str(size).encode() + b"\n"
        out += b"0000000000 65535 f \n"
        for n in range(1, size):
            out += f"{offsets[n]:010d} 00000 n \n".encode()
        out += (
            b"trailer\n<< /Size " + str(size).encode() + b" /Root " + str(catalog).encode()
            + b" 0 R >>\nstartxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
        )
    return bytes(out)
