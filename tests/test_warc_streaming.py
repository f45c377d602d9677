"""Streaming WARC ingestion → extraction, end to end."""

from gluon_ocr_spark.kernels.extract import extract_document
from gluon_ocr_spark.operators.extract import extract_docs
from gluon_ocr_spark.sources.pages import make_pages
from gluon_ocr_spark.sources.warc import read_warc_stream, write_warc


def test_warc_stream_extract(spark, tmp_path):
    pages = make_pages(20, seed=42)
    wdir = tmp_path / "warc_in"
    wdir.mkdir()
    (wdir / "seg-00.warc.gz").write_bytes(write_warc(pages[:10], compress=True))
    (wdir / "seg-01.warc").write_bytes(write_warc(pages[10:]))

    docs = extract_docs(read_warc_stream(spark, str(wdir)))
    q = (
        docs.writeStream.format("memory")
        .queryName("warc_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["url"]: r["text"] for r in spark.sql("select url, text from warc_docs").collect()}
    exp = {p["url"]: extract_document(p["html"]).text for p in pages}
    assert got == exp
