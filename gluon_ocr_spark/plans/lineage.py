"""Checkpoint / lineage / exactly-once resume (north-rule requirement).

The reference has no fault tolerance (SURVEY §4 "spill/fault" row:
LMDB batched writes only, ``gluonocr/data/data_utils.py:112-115``);
this is an engine addition. Semantics emulate Iceberg's
snapshot-commit on plain parquet so the sandbox needs no extra jars —
on a real deployment each committed id's directory maps 1:1 onto an
Iceberg ``append`` snapshot and `_lineage` onto a metadata table.

The protocol is written once, in :class:`CommitLog`, and two writers
commit through it: :class:`ExtractionJob` (key ``run_id``, one log row
per written partition, table ``docs``) and
:class:`gluon_ocr_spark.pipeline.IncrementalCorpus` (key
``increment_id``, one log row per increment, tables ``docs``/``fps``/
``bands``; like Iceberg metadata, the log declares each table's schema
once, and every read uses it):

* each id writes its data to isolated ``<table>/<part>=<id>/``
  directories (never mutating another id's);
* the id is COMMITTED only when its rows appear in the ``_lineage``
  table — written last, as one file, after the data writes have fully
  succeeded. Readers resolve committed ids from lineage first, so a
  crash mid-write leaves an orphan directory that is invisible to
  readers and harmlessly re-processed on retry;
* a committed id is final: running it again replays its counters from
  its log rows and recomputes nothing;
* resume = left-anti join of the input pages against the committed
  url set, so every url is extracted exactly once across any number
  of crash/retry cycles;
* extraction lineage rows carry per-partition counters
  ``(run_id, partition_id, url_count, line_count, char_count,
  min_url, max_url, committed_at)`` — the SURVEY §1.3 lineage schema —
  computed from the data as written (not from the plan), so the
  metrics audit what actually committed.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.extract import DOCS_SCHEMA, extract_docs

# a run's docs directory as ExtractionJob writes it
RUN_DOCS_SCHEMA = DOCS_SCHEMA + ", partition_id int"

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


class CommitLog:
    """The exactly-once commit protocol over the warehouse at ``root``.

    ``key`` is the log column naming the committed id and ``part`` the
    directory partition its data goes under (default ``key``);
    ``schema`` is the log's declared schema, ``committed_at timestamp``
    last; ``tables`` maps each data table to its schema (DDL); ``sums``
    maps each counter column of the log to the name it is reported
    under. An id's counters are always the sums of its log rows: on
    replay from the log, on a fresh commit observed on the append
    itself."""

    def __init__(self, root: str, key: str, schema: str, tables: dict[str, str], sums: dict[str, str],
                 part: str | None = None):
        self.root = root
        self.key = key
        self.schema = schema
        self.tables = tables
        self.sums = sums
        self.part = part or key
        self.log_dir = os.path.join(root, "_lineage")

    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def data_dir(self, table: str, id_: str) -> str:
        return os.path.join(self.root, table, f"{self.part}={id_}")

    def read_log(self, spark: SparkSession) -> DataFrame | None:
        """The log read with its declared schema; ``None`` only when
        the directory does not exist. The schema needs no inference, so
        a log holding only a crashed first commit's ``_temporary/``
        reads as 0 rows. An unreadable log raises: taken for "no
        commits", every committed input would be processed and
        committed a second time."""
        if not path_exists(spark, self.log_dir):
            return None
        return spark.read.schema(self.schema).parquet(self.log_dir)

    def committed(self, spark: SparkSession) -> dict[str, dict]:
        """id → its counters summed over its log rows: one read of the
        log and one collect, bounded by ids rather than log rows."""
        log = self.read_log(spark)
        if log is None:
            return {}
        rows = log.groupBy(self.key).agg(*[F.sum(c).alias(n) for c, n in self.sums.items()]).collect()
        return {r[self.key]: {n: r[n] for n in self.sums.values()} for r in rows}

    def read(self, spark: SparkSession, table: str, ids: Iterable[str]) -> DataFrame:
        """Union of ``table`` over the committed ``ids``, read with its
        declared schema, never inferred — orphan (uncommitted)
        directories are invisible, like uncommitted Iceberg snapshots.
        A committed id whose directory is gone raises: skipped, it
        would silently shrink the snapshot. No ids give a statically
        empty frame: ``limit(0)`` makes it an empty ``LocalRelation``
        (a bare ``createDataFrame`` is a ``LogicalRDD`` the optimizer
        never prunes), so a join against it folds away."""
        paths = [self.data_dir(table, i) for i in ids]
        if not paths:
            return spark.createDataFrame([], self.tables[table]).limit(0)
        return spark.read.schema(self.tables[table]).parquet(*paths)

    def run(self, spark: SparkSession, id_: str, write: Callable[[dict], DataFrame]) -> dict:
        """Commit ``id_`` once. ``write(committed)`` gets the committed
        ids (the run's one log read), writes ``id_``'s data directories
        and returns its log rows without ``committed_at``. A committed
        ``id_`` is final — foreachBatch-style redelivery must not
        overwrite its directories — so it only reports its counters."""
        committed = self.committed(spark)
        if id_ in committed:
            return {self.key: id_, **committed[id_], "replayed": True}
        obs = Observation()
        rows = write(committed).withColumn("committed_at", F.current_timestamp()).observe(
            obs, *[F.coalesce(F.sum(c), F.lit(0)).alias(n) for c, n in self.sums.items()]
        )
        # THE commit point. coalesce(1): one file per id so the append
        # is all-or-nothing — a multi-file append could crash half-way
        # and leave a partially-committed id (wrong counters on
        # replay). Lineage is a few tiny rows per id, so a single file
        # costs nothing even at 10^5 partitions.
        rows.coalesce(1).write.mode("append").parquet(self.log_dir)
        return {self.key: id_, **obs.get, "replayed": False}


class ExtractionJob:
    """Resumable distributed extraction over a pages table."""

    def __init__(self, out_dir: str, num_partitions: int | None = None):
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.commits = CommitLog(
            out_dir, "run_id", LINEAGE_SCHEMA, {"docs": RUN_DOCS_SCHEMA},
            {"url_count": "urls_processed", "line_count": "lines"},
        )
        self.docs_dir = self.commits.table_dir("docs")
        self.lineage_dir = self.commits.log_dir

    # -- read side --------------------------------------------------
    def lineage(self, spark: SparkSession) -> DataFrame | None:
        return self.commits.read_log(spark)

    def committed_run_ids(self, spark: SparkSession) -> list[str]:
        return list(self.commits.committed(spark))

    def read_docs(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed runs only; ``None`` before the first."""
        committed = self.commits.committed(spark)
        return self.commits.read(spark, "docs", committed) if committed else None

    def committed_urls(self, spark: SparkSession) -> DataFrame | None:
        docs = self.read_docs(spark)
        return None if docs is None else docs.select("url")

    # -- write side ---------------------------------------------------
    def run(self, spark: SparkSession, pages: DataFrame, run_id: str | None = None) -> dict:
        """Extract all not-yet-committed pages; commit docs + lineage.

        Returns counters for observability: the sums of the run's
        lineage rows. Safe to re-run after any crash; committed urls
        are never re-extracted (exactly-once), and a committed
        ``run_id`` replays its counters.
        """
        run_id = run_id or uuid.uuid4().hex[:16]

        def write(committed: dict) -> DataFrame:
            # resume: anti-join against committed urls (none: the join
            # folds away). url is the identity key (input_hint); both
            # sides shuffle on it and AQE handles skew.
            done = self.commits.read(spark, "docs", committed)
            todo = pages.join(done.select("url"), "url", "left_anti")
            docs = extract_docs(todo, num_partitions=self.num_partitions).withColumn(
                "partition_id", F.spark_partition_id()
            )
            docs.write.mode("overwrite").parquet(self.commits.data_dir("docs", run_id))
            # lineage from data-as-written (audit what actually committed)
            return (
                self.commits.read(spark, "docs", [run_id])
                .groupBy("partition_id")
                .agg(
                    F.count("*").alias("url_count"),
                    F.sum("n_lines").alias("line_count"),
                    F.sum("n_chars").alias("char_count"),
                    F.min("url").alias("min_url"),
                    F.max("url").alias("max_url"),
                )
                .select(F.lit(run_id).alias("run_id"), "partition_id", "url_count", "line_count",
                        "char_count", "min_url", "max_url")
            )

        return self.commits.run(spark, run_id, write)
