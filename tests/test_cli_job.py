"""spark-submit CLI entry (python -m gluon_ocr_spark): end-to-end job
incl. resume on re-run."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_synthetic_job_and_resume(tmp_path):
    out = str(tmp_path / "warehouse")
    cmd = [
        sys.executable,
        "-m",
        "gluon_ocr_spark",
        "--synthetic",
        "30",
        "--out",
        out,
        "--master",
        "local[2]",
        "--partitions",
        "2",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert r1.returncode == 0, r1.stderr[-2000:]
    stats1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert stats1["urls_processed"] == 30

    # second invocation: everything committed → nothing to do
    r2 = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    stats2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert stats2["urls_processed"] == 0


def test_cli_mixed_pdf_payloads(spark, tmp_path):
    """--payload mixed: synthetic corpus where odd pages are real PDF
    bytes; the lineage job extracts both legs byte-identically."""
    from gluon_ocr_spark.plans.lineage import ExtractionJob
    from gluon_ocr_spark.sources.pages import make_pages, pages_dataframe

    out = str(tmp_path / "wh")
    pages = pages_dataframe(spark, 40, seed=42, partitions=4, payload="mixed")
    stats = ExtractionJob(out, num_partitions=4).run(spark, pages)
    assert stats["urls_processed"] == 40
    got = {r["url"]: r["text"] for r in spark.read.parquet(f"{out}/docs/*").collect()}
    exp = {p["url"]: p["text"] for p in make_pages(40, 42)}
    assert got == exp


def test_cli_prep_corpus(tmp_path):
    """--prep-corpus runs the full pipeline (near-dedup on by
    default) end-to-end through spark-submit's entry point."""
    import sys

    out = str(tmp_path / "corpus")
    cmd = [
        sys.executable, "-m", "gluon_ocr_spark",
        "--synthetic", "60", "--out", out,
        "--partitions", "2", "--master", "local[4]",
        "--prep-corpus",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    import json as j

    stats = j.loads(r.stdout.strip().splitlines()[-1])
    assert stats["pages_in"] == 60
    assert 0 < stats["corpus_out"] <= stats["after_exact_dedup"] <= 60
    assert stats["out_dir"] == out
