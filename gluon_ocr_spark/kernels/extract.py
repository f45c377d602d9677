"""End-to-end page → (text, lines, spans) extraction kernel.

The single-process oracle AND the body of the Spark UDF — one code
path, so the distributed pipeline is byte-identical to the oracle by
construction (the tests then check partition-invariance).

Mirrors the reference's end-to-end ``OCRModel.inference``
(``scripts/deploy/python_infer/demo.py:156-175``):

1. decode payload (S2)            → :func:`gluon_ocr_spark.kernels.dom.parse_blocks`
2. detect + post-process (N1, D*) → :func:`gluon_ocr_spark.kernels.blocks.detect_regions`
3. per-region "recognition" (C1→T2 analog): each surviving region's
   blocks become lines of text
4. doc assembly (T5): ``'\\n'.join(line texts)`` in reading order with
   span offsets — the engine-pinned byte-identical contract
   (SURVEY.md §2.6 T5, FIXTURES.md §5).
"""

from __future__ import annotations

from dataclasses import dataclass

from .blocks import DEFAULT_CONFIG, ExtractionConfig, detect_regions
from .dom import parse_blocks


@dataclass
class Line:
    line_id: int  # reading-order index (C2)
    start: int  # char offset of this line in the doc text
    end: int  # exclusive end offset
    score: float  # region score (D5), float32-rounded for stability
    tag: str  # originating block tag
    order: int  # DOM document-order index of the block
    text: str


@dataclass
class ExtractResult:
    text: str
    lines: list[Line]


def extract_document(html: bytes | str, cfg: ExtractionConfig = DEFAULT_CONFIG) -> ExtractResult:
    """Extract the main content of one page. Total: never raises on
    arbitrary crawl bytes; empty input → empty result.

    Payload sniff: ``%PDF-`` within the first 1 KiB routes to the PDF
    leg (:mod:`.pdf` — the north rule's "PDF/layout parse"); everything
    else takes the HTML/DOM leg. Both legs share the same T5 doc
    assembly contract, so downstream operators never branch. A payload
    that merely *mentions* ``%PDF-`` (an HTML page about PDFs) fails
    PDF structural parsing and falls back to the HTML leg — the sniff
    is a hint, not a verdict."""
    if isinstance(html, (bytes, bytearray, memoryview)) and b"%PDF-" in bytes(html[:1024]):
        res = _extract_pdf(bytes(html))
        if res is not None:
            return res
    blocks = parse_blocks(html)
    regions = detect_regions(blocks, cfg)

    lines: list[Line] = []
    offset = 0
    line_id = 0
    for region in regions:
        for b in region.blocks:
            start = offset
            end = start + len(b.text)
            lines.append(
                Line(
                    line_id=line_id,
                    start=start,
                    end=end,
                    # float32 round-trip: the reference carries float32
                    # scores end-to-end; pin the same width so golden
                    # files are stable across platforms.
                    score=_f32(region.score),
                    tag=b.tag,
                    order=b.order,
                    text=b.text,
                )
            )
            offset = end + 1  # the joining '\n'
            line_id += 1
    text = "\n".join(ln.text for ln in lines)
    return ExtractResult(text=text, lines=lines)


def _f32(x: float) -> float:
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


def _extract_pdf(payload: bytes) -> ExtractResult | None:
    """PDF leg: text runs → baseline lines → the same Line/ExtractResult
    contract as the HTML leg. ``tag`` is ``"pdf"``; ``order`` is the
    reading-order index (PDF lines arrive already ordered by
    :func:`gluon_ocr_spark.kernels.pdf.assemble_lines`); ``score`` is
    1.0 — PDF text is declared, not detected, so there is no detection
    confidence to carry. Returns ``None`` when the payload is not
    structurally a PDF at all (caller falls back to the HTML leg);
    a STRUCTURAL pdf that is damaged or encrypted yields the lines of
    its parseable pages (possibly none) rather than HTML-parsing
    ciphertext/binary."""
    import zlib

    from .pdf import pdf_text_lines

    try:
        pdf_lines = pdf_text_lines(payload)
    except ValueError as e:
        # encrypted is a real PDF: emit empty, never parse ciphertext
        if "encrypted" in str(e):
            return ExtractResult(text="", lines=[])
        return None  # not actually a PDF document → HTML leg
    except (TypeError, KeyError, OverflowError, RecursionError, zlib.error):
        return None
    lines: list[Line] = []
    offset = 0
    for i, pl in enumerate(pdf_lines):
        start = offset
        end = start + len(pl.text)
        lines.append(
            Line(line_id=i, start=start, end=end, score=1.0, tag="pdf", order=i, text=pl.text)
        )
        offset = end + 1
    return ExtractResult(text="\n".join(ln.text for ln in lines), lines=lines)
