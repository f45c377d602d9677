"""End-to-end training-corpus preparation pipeline.

The composite job a pre-training data pipeline runs over a crawl:

    pages (lake scan / WARC)
      → distributed extraction          (operators/extract, salt-partitioned)
      → quality gates                   (operators/textstats, JVM expressions)
      → exact dedup, canonical keep     (operators/dedup, hash window)
      → corpus write + counters

Each stage is a DataFrame transform — one Python (Arrow) stage for
extraction, everything downstream JVM-side, so Catalyst fuses the
quality filter + dedup window + projection into the post-UDF stages.
Stage counters come from a single pass (no double scans): Spark
``Observation`` metrics attached at stage boundaries are collected
during the one write action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.dedup import drop_exact_dups, drop_near_dups
from .operators.extract import extract_docs
from .operators.textstats import quality_gate, remove_dup_spans, with_fingerprint
from .plans.lineage import CommitLog


def prepare_corpus(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    num_partitions: int | None = None,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_dup_bigram_frac: float = 0.9,
    near_dedup: bool = True,
    cc_workdir: str | None = None,
    remove_spans: bool = False,
    span_method: str = "kgram",
    span_shards: int = 64,
) -> dict:
    """Run the full prep pipeline; returns stage counters.

    Counters ride the ONE write pass via ``Observation`` (Spark's
    query-metrics hook): pages_in is observed on the extraction output
    (one doc row per input page), corpus_out on the final projection.
    The previous version re-scanned the input with ``pages.count()``
    — a second full pass over the lake table at 100 TB."""
    from pyspark.sql import Observation

    obs_in = Observation("pages_in")
    obs_out = Observation("corpus_out")

    docs = extract_docs(pages, num_partitions=num_partitions)
    if remove_spans:
        # span-level exact-substring dedup BEFORE the gates: removal
        # changes token counts, so quality judges the cleaned text
        # (fully-duplicated docs empty out and fall to the n_chars
        # gate — stricter than the doc-level canonical keep alone).
        # The observation attaches AFTER this stage (row-preserving
        # left join) — inside it the docs node fans out into the
        # gram/token/rebuild branches and a CollectMetrics there
        # double-fires.
        #
        # span_method="sa" swaps in the sharded suffix-array operator
        # (kernels/suffix.py): arbitrary-length matches >= 16 tokens,
        # no gram table, exact string equality — recall is bounded by
        # the shard instead of the seed size (duplicates split across
        # shards survive; size shards so one shard's token stream
        # fits an executor).
        if span_method == "sa":
            from .operators.textstats import remove_dup_spans_sa

            docs = remove_dup_spans_sa(
                docs, id_col="url", text_col="text", n_shards=span_shards
            )
        else:
            docs = remove_dup_spans(docs, id_col="url", text_col="text")
    pages_in_count: int | None = None
    if remove_spans:
        # cut the lineage: the span stage fans the docs node into
        # gram/token/rebuild branches and the stages below self-
        # reference again — a CollectMetrics in that DAG is duplicated
        # across branches and Observation.get asserts; checkpoint
        # materialization also bypasses the listener that captures
        # observed metrics. So snapshot the cleaned docs once and
        # count the SNAPSHOT (no lake rescan). On a cluster prefer
        # reliable checkpoint()/a table write.
        docs = docs.localCheckpoint(eager=True)
        pages_in_count = docs.count()
    else:
        docs = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
    qualified = with_fingerprint(quality_gate(docs, min_tokens, max_tokens, max_dup_bigram_frac))
    deduped = drop_exact_dups(qualified, id_col="url", text_col="text")
    if near_dedup:
        # Transitive near-dup pruning: minhash bands → candidate
        # pairs → connected components → keep component-min docs.
        # Without it the corpus ships A~B~C chains of lightly-edited
        # boilerplate that exact hashing cannot see.
        #
        # MATERIALIZE the exact-deduped corpus first: the prune reads
        # it three times (candidate gen, Jaccard verify, final keep
        # join) and the CC loop runs several actions — without a
        # boundary every one re-executes extraction + gates from the
        # source. The snapshot count doubles as the stage counter
        # (an Observation threaded through a self-referencing
        # downstream is plan-shape fragile: the CollectMetrics node
        # duplicates across branches and `.get` asserts). On a
        # cluster use reliable checkpoint()/an intermediate table.
        deduped = deduped.localCheckpoint(eager=True)
        after_exact_count = deduped.count()
        # cc_workdir (object storage at the lake) makes the iterative
        # CC stage resumable: a failure mid-prune costs one star round
        deduped = drop_near_dups(deduped, id_col="url", text_col="text", cc_workdir=cc_workdir)
    else:
        after_exact_count = None
    keep = deduped.select(
        "url", "text", "n_lines", "n_chars", "n_tokens", "stop_ratio",
        "lexical_diversity", "dup_bigram_frac", "consec_dup_frac", "content_fp"
    )
    keep = keep.observe(obs_out, F.count(F.lit(1)).alias("n"))
    keep.write.mode("overwrite").parquet(out_dir)

    counters = {
        "pages_in": pages_in_count if pages_in_count is not None else obs_in.get["n"],
        "corpus_out": obs_out.get["n"],
        "out_dir": out_dir,
    }
    if after_exact_count is not None:
        counters["after_exact_dedup"] = after_exact_count
    return counters


class IncrementalCorpus:
    """Recurring-crawl corpus warehouse with exactly-once increment
    ingestion — the production loop around
    :func:`gluon_ocr_spark.operators.dedup.incremental_dedup`.

    An increment commits through
    :class:`gluon_ocr_spark.plans.lineage.CommitLog` (key
    ``increment_id``, one log row per increment; its admitted docs,
    their content fingerprints and their LSH band rows go to
    ``docs``/``fps``/``bands`` under ``increment=<id>/``).

    Each ``ingest`` reads the snapshot ONLY through the committed
    artifact tables (never re-hashing settled docs — at 10^12 docs
    the artifact read is the whole cost of history), extracts + gates
    the new pages with prepare_corpus' chain, admits survivors via
    the four-stage incremental dedup, and appends docs + artifacts +
    lineage — the first increment too, against an empty snapshot.
    Re-running a committed increment_id is a no-op replay
    (idempotent under foreachBatch-style redelivery)."""

    #: commit-log row schema BEFORE the committed_at timestamp is
    #: appended at the commit point
    LINEAGE_ROW_SCHEMA = "increment_id string, qualified bigint, admitted bigint"

    def __init__(self, warehouse_dir: str):
        self.warehouse_dir = warehouse_dir
        self.commits = CommitLog(
            warehouse_dir,
            "increment_id",
            f"{self.LINEAGE_ROW_SCHEMA}, committed_at timestamp",
            {
                "docs": "url string, text string, n_lines int, n_chars int, n_tokens int, dup_bigram_frac double",
                "fps": "content_fp string",
                "bands": "url string, band_id int, band_key string",
            },
            {"qualified": "qualified", "admitted": "admitted"},
            part="increment",
        )
        self.docs_dir = self.commits.table_dir("docs")
        self.fps_dir = self.commits.table_dir("fps")
        self.bands_dir = self.commits.table_dir("bands")
        self.lineage_dir = self.commits.log_dir

    # -- read side ----------------------------------------------------
    def committed_ids(self, spark: SparkSession) -> list[str]:
        """Committed increment ids from the commit log."""
        return list(self.commits.committed(spark))

    def read_docs(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed increments only; ``None`` before the first."""
        committed = self.commits.committed(spark)
        return self.commits.read(spark, "docs", committed) if committed else None

    # -- write side ---------------------------------------------------
    def ingest(
        self,
        spark: SparkSession,
        pages: DataFrame,
        increment_id: str,
        min_tokens: int = 10,
        max_tokens: int = 100_000,
        max_dup_bigram_frac: float = 0.9,
        threshold: float = 0.8,
        num_partitions: int | None = None,
    ) -> dict:
        from pyspark.sql import Observation

        from .operators.dedup import incremental_dedup, release_minhash_codes, snapshot_artifacts

        def write(committed: dict) -> DataFrame:
            qualified = quality_gate(
                extract_docs(pages, num_partitions=num_partitions),
                min_tokens, max_tokens, max_dup_bigram_frac,
            ).select("url", "text", "n_lines", "n_chars", "n_tokens", "dup_bigram_frac")
            # one materialization of the gated batch: the dedup stages
            # read it repeatedly (same boundary as prepare_corpus)
            qualified = qualified.localCheckpoint(eager=True)
            n_qualified = qualified.count()

            base, base_fps, base_bands = (self.commits.read(spark, t, committed) for t in ("docs", "fps", "bands"))
            admitted = incremental_dedup(
                qualified, base, id_col="url", text_col="text",
                threshold=threshold, base_fps=base_fps, base_bands=base_bands,
            )

            # the admitted count rides the docs write (no second action)
            obs = Observation()
            inc_docs_dir = self.commits.data_dir("docs", increment_id)
            admitted.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(inc_docs_dir)
            written = self.commits.read(spark, "docs", [increment_id])
            fps, bands = snapshot_artifacts(written, id_col="url", text_col="text")
            fps.write.mode("overwrite").parquet(self.commits.data_dir("fps", increment_id))
            bands.write.mode("overwrite").parquet(self.commits.data_dir("bands", increment_id))
            release_minhash_codes(written, id_col="url", text_col="text")
            return spark.createDataFrame(
                [(increment_id, n_qualified, obs.get["n"])], self.LINEAGE_ROW_SCHEMA
            )

        return self.commits.run(spark, increment_id, write)
