"""WARC (ISO 28500) source — Common Crawl's native page format.

Minimal, dependency-free reader/writer for the subset a crawl-
extraction pipeline needs: ``response`` records with an embedded HTTP
response whose body is the page payload. Supports both plain WARC and
Common Crawl's member-per-record gzip framing (concatenated gzip
members, one per record).

Spark integration: ``read_warc`` scans WARC files via the built-in
``binaryFile`` source and explodes records to `pages` rows inside an
Arrow-batched ``mapInPandas`` — one file per input row, so
parallelism = file count, matching how Common Crawl ships ~1 GB
segments (a 100 TB crawl is ~100k files → plenty of tasks for any
cluster). The record parser is total: malformed records are skipped,
never fatal.

Writer exists for fixtures/tests (round-trip guarantee), mirroring
how the engine's page generator stands in for the lake table.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
import zlib
from collections.abc import Iterator

_CRLF = b"\r\n"


def write_warc(pages: list[dict], compress: bool = False) -> bytes:
    """Serialize pages (url, warc_ts, html) into WARC bytes.
    ``compress=True`` emits one gzip member per record (CC framing)."""
    out = io.BytesIO()
    for p in pages:
        raw = p["html"]
        body = raw if isinstance(raw, (bytes, bytearray)) else str(raw).encode("utf-8")
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" b"Content-Length: " + str(
            len(body)
        ).encode() + b"\r\n\r\n" + body
        ts = p.get("warc_ts")
        if isinstance(ts, _dt.datetime):
            ts_s = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        else:
            ts_s = str(ts or "2024-03-01T00:00:00Z")
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + str(p["url"]).encode() + b"\r\n"
            b"WARC-Date: " + ts_s.encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
        )
        out.write(gzip.compress(rec) if compress else rec)
    return out.getvalue()


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (CC per-record framing)."""
    out = io.BytesIO()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            out.write(d.decompress(data[pos:]))
        except zlib.error:
            break
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)
    return out.getvalue()


def parse_warc(data: bytes) -> Iterator[dict]:
    """Yield {url, warc_ts, html} from WARC bytes. Total: skips
    malformed records, tolerates missing HTTP envelopes."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while True:
        start = data.find(b"WARC/", pos)
        if start == -1:
            return
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end == -1:
            return
        headers: dict[str, str] = {}
        for line in data[start:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if v:
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        block = data[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = headers.get("warc-date", "")
        # strip the embedded HTTP response envelope if present
        body = block
        if block[:5] == b"HTTP/":
            split = block.find(b"\r\n\r\n")
            if split != -1:
                body = block[split + 4 :]
        yield {"url": url, "warc_ts": _parse_ts(ts), "html": body}


def _parse_ts(ts: str) -> _dt.datetime:
    try:
        return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        return _dt.datetime(1970, 1, 1)


def read_warc_stream(spark, path_dir: str, max_files_per_trigger: int = 8):
    """Streaming WARC ingestion: new segment files appearing in
    ``path_dir`` flow through the same record parser into the pages
    stream (→ operators.extract.extract_docs). Micro-batch size = files per
    trigger, the natural unit since CC ships fixed-size segments."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path_dir)
        .select("content")
    )
    return _records_df(files)


def read_warc(spark, path_glob: str):
    """WARC files → pages(url, warc_ts, html, text, lang) DataFrame.

    `text`/`lang` are NULL (they're oracle-side columns in the lake
    table); the extraction pipeline never reads them (column-pruned
    before the UDF anyway)."""
    files = spark.read.format("binaryFile").load(path_glob).select("content")
    return _records_df(files)


def _records_df(files):
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
            for content in pdf["content"]:
                for rec in parse_warc(bytes(content)):
                    rows["url"].append(rec["url"])
                    rows["warc_ts"].append(rec["warc_ts"])
                    rows["html"].append(rec["html"])
                    rows["text"].append(None)
                    rows["lang"].append(None)
            yield pd.DataFrame(rows)

    from .pages import PAGES_SCHEMA

    return files.mapInPandas(gen, schema=PAGES_SCHEMA)
