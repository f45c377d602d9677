"""Checkpoint/resume exactly-once semantics (SURVEY §5.5)."""

import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException

from gluon_ocr_spark.plans import lineage
from gluon_ocr_spark.plans.lineage import RUN_DOCS_SCHEMA, ExtractionJob
from gluon_ocr_spark.sources.pages import pages_dataframe

N = 40
SEED = 42


def test_resume_exactly_once(spark, tmp_path):
    out = str(tmp_path / "out")
    job = ExtractionJob(out, num_partitions=3)
    pages = pages_dataframe(spark, N, SEED, partitions=3)

    # first run sees only half the corpus (stand-in for a crash after
    # a partial commit)
    first = job.run(spark, pages.limit(N // 2), run_id="run1")
    assert first["urls_processed"] == N // 2

    # second run over the full corpus extracts ONLY the remainder
    second = job.run(spark, pages, run_id="run2")
    assert second["urls_processed"] == N - N // 2

    docs = job.read_docs(spark)
    rows = docs.select("url").collect()
    assert len(rows) == N
    assert len({r["url"] for r in rows}) == N  # no duplicates

    # third run: nothing left to do
    third = job.run(spark, pages, run_id="run3")
    assert third["urls_processed"] == 0
    assert third["lines"] == 0


def test_orphan_run_invisible_and_reprocessed(spark, tmp_path):
    out = str(tmp_path / "out2")
    job = ExtractionJob(out, num_partitions=2)
    pages = pages_dataframe(spark, 10, SEED, partitions=2)

    # simulate a crash AFTER the docs write but BEFORE the lineage
    # commit: run normally, then delete its lineage
    job.run(spark, pages.limit(5), run_id="crashed")
    shutil.rmtree(job.lineage_dir)
    assert job.read_docs(spark) is None  # orphan dir invisible
    assert os.path.isdir(os.path.join(job.docs_dir, "run_id=crashed"))

    # resume reprocesses everything exactly once into committed state
    res = job.run(spark, pages, run_id="recovery")
    assert res["urls_processed"] == 10
    assert job.read_docs(spark).count() == 10


def test_lineage_counters_match_docs(spark, tmp_path):
    out = str(tmp_path / "out3")
    job = ExtractionJob(out, num_partitions=2)
    pages = pages_dataframe(spark, 12, SEED, partitions=2)
    res = job.run(spark, pages, run_id="r1")

    lin = job.lineage(spark)
    docs = job.read_docs(spark)
    got = lin.groupBy().sum("url_count", "line_count").collect()[0]
    assert got["sum(url_count)"] == 12
    assert got["sum(line_count)"] == sum(r["n_lines"] for r in docs.select("n_lines").collect())
    # the run reports the sums of the lineage rows it committed
    assert (res["urls_processed"], res["lines"]) == (got["sum(url_count)"], got["sum(line_count)"])


def test_committed_run_replay_is_noop(spark, tmp_path):
    """foreachBatch epoch replay: a run_id that already committed must
    never be recomputed — the old overwrite path recomputed todo as
    empty and clobbered the committed run dir with an empty dataset."""
    out = str(tmp_path / "out4")
    job = ExtractionJob(out, num_partitions=2)
    pages = pages_dataframe(spark, 8, SEED, partitions=2)

    first = job.run(spark, pages, run_id="epoch-000")
    assert first["urls_processed"] == 8

    # replay of the same epoch (same pages or ANY pages): idempotent
    replay = job.run(spark, pages, run_id="epoch-000")
    assert replay.get("replayed") is True
    assert replay["urls_processed"] == 8  # counters from lineage
    assert (replay["urls_processed"], replay["lines"]) == (first["urls_processed"], first["lines"])
    docs = job.read_docs(spark)
    assert docs.count() == 8  # data survived the replay intact
    assert docs.where("text IS NULL").count() == 0


def test_missing_committed_run_dir_raises(spark, tmp_path):
    """A committed run whose docs directory is gone raises on the next
    run instead of reading as a smaller snapshot: the lost urls would
    otherwise be re-extracted under a new run id without a word."""
    job = ExtractionJob(str(tmp_path / "out8"), num_partitions=2)
    pages = pages_dataframe(spark, 6, SEED, partitions=2)
    job.run(spark, pages.limit(3), run_id="r1")
    shutil.rmtree(os.path.join(job.docs_dir, "run_id=r1"))

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        job.run(spark, pages, run_id="r2")
    assert job.committed_run_ids(spark) == ["r1"]


def test_unreadable_commit_log_raises_instead_of_reextracting(spark, tmp_path):
    """A commit log that exists but cannot be read is not "no commits":
    taken as empty, the run would re-extract every page and append a
    commit beside the damaged file."""
    out = str(tmp_path / "out5")
    job = ExtractionJob(out, num_partitions=2)
    os.makedirs(job.lineage_dir)
    with open(os.path.join(job.lineage_dir, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    pages = pages_dataframe(spark, 4, SEED, partitions=2)
    unreadable = r"FAILED_READ_FILE.*_lineage/part-00000\.parquet"

    with pytest.raises(Py4JJavaError, match=unreadable):
        job.lineage(spark).count()
    with pytest.raises(Py4JJavaError, match=unreadable):
        job.run(spark, pages, run_id="r1")
    assert not os.path.exists(os.path.join(job.docs_dir, "run_id=r1"))
    assert os.listdir(job.lineage_dir) == ["part-00000.parquet"]


def test_resume_through_a_filesystem_uri(spark, tmp_path):
    """The commit log is found through the Hadoop filesystem of its
    path, so an output given as a URI (``file:``, ``hdfs://``,
    ``s3://``) resumes like a local path instead of re-extracting
    every page and committing it a second time."""
    job = ExtractionJob("file://" + str(tmp_path / "out6"), num_partitions=2)
    pages = pages_dataframe(spark, 6, SEED, partitions=2)

    assert job.run(spark, pages, run_id="r1")["urls_processed"] == 6
    assert job.committed_run_ids(spark) == ["r1"]
    assert job.run(spark, pages, run_id="r2")["urls_processed"] == 0
    assert job.read_docs(spark).count() == 6


def test_declared_docs_schema_matches_a_written_run(spark, tmp_path):
    """Committed docs are read with ``RUN_DOCS_SCHEMA`` instead of an
    inferred schema (inference costs a Spark job per read), so the
    declared schema must be the one a run writes."""
    job = ExtractionJob(str(tmp_path / "out7"), num_partitions=2)
    job.run(spark, pages_dataframe(spark, 4, SEED, partitions=2), run_id="r1")

    run_dir = os.path.join(job.docs_dir, "run_id=r1")
    inferred = spark.read.parquet(run_dir).schema
    assert spark.read.schema(RUN_DOCS_SCHEMA).parquet(run_dir).schema == inferred
    assert job.read_docs(spark).schema == inferred


class _StopRun(Exception):
    pass


def test_no_commits_read_as_a_statically_empty_frame(spark, tmp_path, monkeypatch):
    """With no committed ids ``CommitLog.read`` gives an empty
    ``LocalRelation`` in the optimized plan, so a fresh run's resume
    anti-join folds to the pages alone. An empty ``createDataFrame``
    without ``limit(0)`` is a ``LogicalRDD`` the optimizer never
    prunes, and the join would stay."""
    job = ExtractionJob(str(tmp_path / "out9"), num_partitions=2)
    empty = job.commits.read(spark, "docs", [])
    assert str(empty._jdf.queryExecution().optimizedPlan()).startswith("LocalRelation <empty>")
    assert empty.schema == spark.createDataFrame([], RUN_DOCS_SCHEMA).schema

    seen = []

    def stop(todo, **_kw):
        seen.append(todo)
        raise _StopRun

    monkeypatch.setattr(lineage, "extract_docs", stop)
    with pytest.raises(_StopRun):
        job.run(spark, pages_dataframe(spark, 4, SEED, partitions=2), run_id="r1")
    plan = str(seen[0]._jdf.queryExecution().optimizedPlan())
    assert "Join" not in plan and "LogicalRDD" not in plan, plan
