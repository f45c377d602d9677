"""Checkpoint / lineage / exactly-once resume (north-rule requirement).

The reference has no fault tolerance (SURVEY §4 "spill/fault" row:
LMDB batched writes only, ``gluonocr/data/data_utils.py:112-115``);
this is an engine addition. Semantics emulate Iceberg's
snapshot-commit on plain parquet so the sandbox needs no extra jars —
on a real deployment each ``run_id`` directory maps 1:1 onto an
Iceberg ``append`` snapshot and `_lineage` onto a metadata table:

* each run writes docs to an isolated ``docs/run_id=<id>/`` directory
  (never mutating prior runs);
* the run is COMMITTED only when its rows appear in the ``_lineage``
  table — written last, after the docs write has fully succeeded.
  Readers resolve committed run ids from lineage first, so a crash
  mid-write leaves an orphan directory that is invisible to readers
  and harmlessly re-processed on resume;
* resume = left-anti join of the input pages against the committed
  url set, so every url is extracted exactly once across any number
  of crash/retry cycles;
* lineage rows carry per-partition counters
  ``(run_id, partition_id, url_count, line_count, char_count,
  min_url, max_url, committed_at)`` — the SURVEY §1.3 lineage schema —
  computed from the data as written (not from the plan), so the
  metrics audit what actually committed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_docs

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, url_count bigint, line_count bigint, "
    "char_count bigint, min_url string, max_url string, committed_at timestamp"
)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on the Hadoop filesystem Spark reads it
    with; ``os.path`` answers False for every ``s3://``, ``hdfs://``
    or ``file:`` URI."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def read_commit_log(spark: SparkSession, log_dir: str, schema: str) -> DataFrame | None:
    """The commit log under ``log_dir`` read with its declared
    ``schema``; ``None`` only when the directory does not exist. The
    schema needs no inference, so a log holding only a crashed first
    commit's ``_temporary/`` reads as 0 rows. An unreadable log raises:
    taken for "no commits", every committed input would be processed
    and committed a second time."""
    if not path_exists(spark, log_dir):
        return None
    return spark.read.schema(schema).parquet(log_dir)


class ExtractionJob:
    """Resumable distributed extraction over a pages table."""

    def __init__(self, out_dir: str, num_partitions: int | None = None):
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.docs_dir = os.path.join(out_dir, "docs")
        self.lineage_dir = os.path.join(out_dir, "_lineage")

    # -- read side --------------------------------------------------
    def lineage(self, spark: SparkSession) -> DataFrame | None:
        return read_commit_log(spark, self.lineage_dir, LINEAGE_SCHEMA)

    def _committed(self, spark: SparkSession) -> dict[str, tuple[int, int]]:
        """run_id → (urls, lines) summed over the run's lineage rows:
        one read and one collect of the commit log."""
        lin = self.lineage(spark)
        if lin is None:
            return {}
        rows = lin.groupBy("run_id").agg(
            F.sum("url_count").alias("n"), F.sum("line_count").alias("l")
        ).collect()
        return {r["run_id"]: (r["n"], r["l"]) for r in rows}

    def committed_run_ids(self, spark: SparkSession) -> list[str]:
        return list(self._committed(spark))

    def _docs_of(self, spark: SparkSession, runs: list[str]) -> DataFrame | None:
        if not runs:
            return None
        return spark.read.parquet(*[os.path.join(self.docs_dir, f"run_id={r}") for r in runs])

    def read_docs(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed runs only — orphan (uncommitted) run
        directories are invisible, like uncommitted Iceberg snapshots."""
        return self._docs_of(spark, self.committed_run_ids(spark))

    def committed_urls(self, spark: SparkSession) -> DataFrame | None:
        docs = self.read_docs(spark)
        return None if docs is None else docs.select("url")

    # -- write side ---------------------------------------------------
    def run(self, spark: SparkSession, pages: DataFrame, run_id: str | None = None) -> dict:
        """Extract all not-yet-committed pages; commit docs + lineage.

        Returns counters for observability. Safe to re-run after any
        crash; committed urls are never re-extracted (exactly-once).
        """
        run_id = run_id or uuid.uuid4().hex[:16]
        committed = self._committed(spark)  # the run's one commit-log read
        if run_id in committed:
            # Idempotent replay: foreachBatch re-delivers an epoch when
            # the STREAM's commit-log write crashed after OUR commit
            # (deterministic run_id = epoch). A committed run_id is
            # final — recomputing would overwrite its run dir with an
            # empty dataset — so report its lineage counters only.
            n, lines = committed[run_id]
            return {"run_id": run_id, "urls_processed": n, "lines": lines, "replayed": True}
        done = self._docs_of(spark, list(committed))
        todo = pages
        if done is not None:
            # resume: anti-join against committed urls. url is the
            # identity key (input_hint); both sides shuffle on it and
            # AQE handles skew.
            todo = pages.join(done.select("url"), "url", "left_anti")

        docs = extract_docs(todo, num_partitions=self.num_partitions).withColumn(
            "partition_id", F.spark_partition_id()
        )
        run_dir = os.path.join(self.docs_dir, f"run_id={run_id}")
        docs.write.mode("overwrite").parquet(run_dir)

        # lineage from data-as-written (audit what actually committed)
        written = spark.read.parquet(run_dir)
        lineage = (
            written.groupBy("partition_id")
            .agg(
                F.count("*").alias("url_count"),
                F.sum("n_lines").alias("line_count"),
                F.sum("n_chars").alias("char_count"),
                F.min("url").alias("min_url"),
                F.max("url").alias("max_url"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                "partition_id",
                "url_count",
                "line_count",
                "char_count",
                "min_url",
                "max_url",
                F.current_timestamp().alias("committed_at"),
            )
        )
        # THE commit point. coalesce(1): one file per run so the append
        # is all-or-nothing — a multi-file append could crash half-way
        # and leave a partially-committed run (wrong counters on
        # replay). Lineage is one tiny row per partition, so a single
        # file costs nothing even at 10^5 partitions.
        lineage.coalesce(1).write.mode("append").parquet(self.lineage_dir)

        stats = written.agg(F.count("*").alias("n"), F.coalesce(F.sum("n_lines"), F.lit(0)).alias("l")).collect()[0]
        return {"run_id": run_id, "urls_processed": stats["n"], "lines": stats["l"]}
