"""IncrementalCorpus: exactly-once recurring-crawl ingestion —
increment chaining through stored artifacts, replay idempotency,
orphan invisibility."""

import os
import shutil

import pytest
from pyspark.errors import AnalysisException

from gluon_ocr_spark.pipeline import IncrementalCorpus
from gluon_ocr_spark.sources.pages import wrap_text_as_page

BOILER = (
    "subscribe to our newsletter for all the latest updates and "
    "exclusive offers delivered straight to your inbox today friends"
)
DOC_A = (
    "unique article about glaciers carving deep valleys through "
    "ancient mountain ranges over countless millennia of slow ice"
)
DOC_B = (
    "completely different report covering harvest yields across "
    "southern provinces after an unusually wet spring season there"
)


def _pages(spark, items):
    return spark.createDataFrame(
        [(url, bytearray(wrap_text_as_page(i, text))) for i, (url, text) in enumerate(items)],
        "url string, html binary",
    )


def test_two_increments_replay_and_orphans(spark, tmp_path):
    wh = IncrementalCorpus(str(tmp_path / "warehouse"))

    # increment 1: two distinct docs
    r1 = wh.ingest(spark, _pages(spark, [("page://a", DOC_A), ("page://b", DOC_B)]), "inc1")
    assert (r1["qualified"], r1["admitted"], r1["replayed"]) == (2, 2, False)

    # increment 2: exact dup of A, near-dup of B (one token), one new doc
    near_b = DOC_B.rsplit(" ", 1)[0] + " here"
    r2 = wh.ingest(
        spark,
        _pages(
            spark,
            [("page://a2", DOC_A), ("page://b2", near_b), ("page://c", BOILER)],
        ),
        "inc2",
    )
    assert r2["qualified"] == 3 and r2["replayed"] is False
    admitted2 = {r["url"] for r in spark.read.parquet(
        os.path.join(wh.docs_dir, "increment=inc2")
    ).collect()}
    assert "page://a2" not in admitted2  # exact vs snapshot
    assert "page://b2" not in admitted2  # near vs snapshot
    assert "page://c" in admitted2

    # reader sees the union of committed increments
    urls = {r["url"] for r in wh.read_docs(spark).select("url").collect()}
    assert urls == {"page://a", "page://b", "page://c"}

    # replay: committed increment id is final — counters from lineage,
    # nothing recomputed or overwritten
    r2b = wh.ingest(spark, _pages(spark, [("page://x", DOC_A)]), "inc2")
    assert r2b["replayed"] is True and r2b["admitted"] == r2["admitted"]
    assert {r["url"] for r in wh.read_docs(spark).select("url").collect()} == urls

    # orphan: a docs directory with NO lineage row is invisible
    orphan_dir = os.path.join(wh.docs_dir, "increment=crashed")
    spark.read.parquet(os.path.join(wh.docs_dir, "increment=inc1")).write.parquet(orphan_dir)
    assert {r["url"] for r in wh.read_docs(spark).select("url").collect()} == urls
    assert "crashed" not in wh.committed_ids(spark)


def test_interrupted_first_commit_does_not_block_ingest(spark, tmp_path):
    """A driver killed during the first commit leaves ``_lineage/``
    holding only ``_temporary/0/``: that log has no committed row, so
    it reads as no commits and the next ingest proceeds."""
    wh = IncrementalCorpus(str(tmp_path / "wh_tmp"))
    os.makedirs(os.path.join(wh.lineage_dir, "_temporary", "0"))
    assert wh.committed_ids(spark) == []

    r = wh.ingest(spark, _pages(spark, [("page://a", DOC_A), ("page://b", DOC_B)]), "inc1")
    assert (r["qualified"], r["admitted"], r["replayed"]) == (2, 2, False)
    assert wh.committed_ids(spark) == ["inc1"]


def test_increments_chain_through_a_filesystem_uri(spark, tmp_path):
    """A warehouse given as a URI finds its commit log and its
    committed increments through the Hadoop filesystem of the path:
    the second increment is deduplicated against the first and a
    replay is a no-op, as for a local path."""
    wh = IncrementalCorpus("file://" + str(tmp_path / "wh_uri"))
    wh.ingest(spark, _pages(spark, [("page://a", DOC_A), ("page://b", DOC_B)]), "inc1")
    assert wh.committed_ids(spark) == ["inc1"]

    r2 = wh.ingest(spark, _pages(spark, [("page://a2", DOC_A), ("page://c", BOILER)]), "inc2")
    assert (r2["qualified"], r2["admitted"], r2["replayed"]) == (2, 1, False)
    assert wh.ingest(spark, _pages(spark, [("page://x", DOC_A)]), "inc2")["replayed"] is True
    urls = {r["url"] for r in wh.read_docs(spark).select("url").collect()}
    assert urls == {"page://a", "page://b", "page://c"}


@pytest.mark.parametrize("table", ["docs", "fps", "bands"])
def test_missing_committed_increment_dir_raises(spark, tmp_path, table):
    """A committed increment whose directory is gone raises on the next
    ingest: skipped, the next increment would be deduplicated against
    less than was committed and readmit its duplicates."""
    wh = IncrementalCorpus(str(tmp_path / f"wh_missing_{table}"))
    wh.ingest(spark, _pages(spark, [("page://a", DOC_A), ("page://b", DOC_B)]), "inc1")
    shutil.rmtree(os.path.join(wh.warehouse_dir, table, "increment=inc1"))

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        wh.ingest(spark, _pages(spark, [("page://a2", DOC_A), ("page://c", BOILER)]), "inc2")
    assert wh.committed_ids(spark) == ["inc1"]


def test_first_increment_dedups_within_batch(spark, tmp_path):
    wh = IncrementalCorpus(str(tmp_path / "wh2"))
    r = wh.ingest(
        spark,
        _pages(spark, [("page://a", DOC_A), ("page://a-dup", DOC_A), ("page://b", DOC_B)]),
        "first",
    )
    assert r["qualified"] == 3 and r["admitted"] == 2
    urls = {r2["url"] for r2 in wh.read_docs(spark).select("url").collect()}
    assert urls == {"page://a", "page://b"}  # min-url keeps page://a


def test_crash_mid_ingest_then_retry(spark, tmp_path):
    """A crash AFTER the docs/artifact writes but BEFORE the lineage
    commit leaves orphan directories; retrying the same increment id
    must reprocess cleanly (overwrite the orphans) and commit once."""
    wh = IncrementalCorpus(str(tmp_path / "wh3"))
    wh.ingest(spark, _pages(spark, [("page://a", DOC_A)]), "inc1")

    # simulate the crash state for inc2: docs + fps written, NO lineage
    crashed = _pages(spark, [("page://b", DOC_B)])
    from gluon_ocr_spark.operators.extract import extract_docs

    partial = extract_docs(crashed).select("url", "text")
    partial.write.parquet(os.path.join(wh.docs_dir, "increment=inc2"))
    partial.selectExpr("md5(lower(text)) AS content_fp").write.parquet(
        os.path.join(wh.fps_dir, "increment=inc2")
    )
    # invisible to readers pre-retry
    assert {r["url"] for r in wh.read_docs(spark).select("url").collect()} == {"page://a"}

    r = wh.ingest(spark, crashed, "inc2")
    assert r["replayed"] is False and r["admitted"] == 1
    assert {r2["url"] for r2 in wh.read_docs(spark).select("url").collect()} == {
        "page://a",
        "page://b",
    }
    # exactly one lineage row for inc2
    lin = spark.read.parquet(wh.lineage_dir)
    assert lin.where("increment_id = 'inc2'").count() == 1


def test_incremental_ingest_releases_its_dedup_frames(spark, tmp_path):
    """Repeated ingests in one session must not pile up cached frames:
    incremental_dedup releases its batch frames (e2, the batch band
    table, its stage-4 subset and the codes projection under the band
    table) once connected components has returned, and the ingest
    releases the codes projection under the committed band artifact
    once it is written. An incremental ingest adds no cache entry."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    wh = IncrementalCorpus(str(tmp_path / "wh4"))
    sizes = []
    for i in range(4):
        items = [
            (f"page://{i}-a", f"{DOC_A} edition {i}"),
            (f"page://{i}-b", f"{DOC_B} round {i} notes"),
            (f"page://{i}-c", f"{BOILER} {i}"),
        ]
        wh.ingest(spark, _pages(spark, items), f"inc{i}")
        sizes.append(cache.cachedData().size())
    growth = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(growth) == 0, sizes


def test_declared_table_schemas_match_a_written_increment(spark, tmp_path):
    """Committed tables are read with the schemas the commit log
    declares, never inferred (inference costs a Spark job per read), so
    each declared schema must be the one an increment writes."""
    wh = IncrementalCorpus(str(tmp_path / "wh_schema"))
    wh.ingest(spark, _pages(spark, [("page://a", DOC_A), ("page://b", DOC_B)]), "inc1")

    assert set(wh.commits.tables) == {"docs", "fps", "bands"}
    for table, ddl in wh.commits.tables.items():
        inc_dir = os.path.join(wh.warehouse_dir, table, "increment=inc1")
        inferred = spark.read.parquet(inc_dir).schema
        assert spark.read.schema(ddl).parquet(inc_dir).schema == inferred, table
        assert wh.commits.read(spark, table, ["inc1"]).schema == inferred, table


def test_first_increment_admits_the_within_batch_dedup(spark, tmp_path):
    """The first increment goes through the incremental path against an
    empty snapshot, which must admit what the within-batch chain keeps:
    exact dedup (case-folded) then near dedup over the gated docs."""
    from gluon_ocr_spark.operators.dedup import drop_exact_dups, drop_near_dups
    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.operators.textstats import quality_gate

    pages = _pages(
        spark,
        [
            ("page://a", DOC_A),
            ("page://a-upper", DOC_A.upper()),  # case copy
            ("page://b", DOC_B),
            ("page://b-near", DOC_B.rsplit(" ", 1)[0] + " here"),  # one token changed
            ("page://c", BOILER),
            ("page://short", "too short to pass"),  # below the token gate
        ],
    )
    chain = drop_near_dups(
        drop_exact_dups(quality_gate(extract_docs(pages)), id_col="url", text_col="text"),
        id_col="url", text_col="text",
    )
    want = {r["url"] for r in chain.select("url").collect()}
    assert want == {"page://a", "page://b", "page://c"}

    wh = IncrementalCorpus(str(tmp_path / "wh_first"))
    r = wh.ingest(spark, pages, "inc1")
    assert (r["qualified"], r["admitted"]) == (5, 3)
    assert {r2["url"] for r2 in wh.read_docs(spark).select("url").collect()} == want
