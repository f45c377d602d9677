"""Streaming extraction + windowed event aggregation.

The batch extraction operator is stateless per page, so it lifts to
Structured Streaming unchanged: ``readStream`` over the pages table
(file source here; Iceberg/Kafka in production) → the same
``mapInPandas`` extraction kernel → ``writeStream`` with checkpointing.
Exactly-once then comes from the sink's commit log instead of the
batch lineage table — the streaming twin of plans/lineage.py.

``hourly_event_counts`` shows the watermark + tumbling-window pattern
for late data (the streaming twin of queries.sql_events_hourly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import portable as pt
from ..functions.portable import SPARK
from ..operators.extract import extract_docs
from ..sources.pages import PAGES_SCHEMA

N_BANDS = pt.MINHASH_K // pt.BAND_ROWS


def read_pages_stream(spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(pages_dir)


def run_extract_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source → extraction → parquet sink with checkpoint.

    ``availableNow`` drains the backlog and stops — the test/bench
    mode; continuous triggers are the production mode."""
    docs = extract_docs(read_pages_stream(spark, pages_dir))
    writer = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_SCHEMA = "user_id bigint, session_start_us bigint, session_end_us bigint, n_events bigint"
SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"
SESSION_GAP_US = 30 * 60 * 1_000_000


def _sessionize_group(key, pdf_iter, state):
    """applyInPandasWithState body: per-user session folding.

    State = the currently-open session (start, last-event, count).
    Emits every session CLOSED by a 30-min gap; the trailing open
    session stays in state for the next micro-batch. Arrow-batched,
    no per-row Python UDF — the custom-stateful-operator pattern for
    semantics Structured Streaming lacks natively (SURVEY §2 N6 note:
    stateful scans live in UDFs)."""
    import pandas as pd

    (user_id,) = key
    us = []
    for pdf in pdf_iter:
        us.extend(int(x) for x in pdf["us"])
    us.sort()

    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = None, None, 0

    closed = []
    for t in us:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > SESSION_GAP_US:
            closed.append((user_id, start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if start is not None:
        state.update((start, last, n))
    if closed:
        yield pd.DataFrame(closed, columns=["user_id", "session_start_us", "session_end_us", "n_events"])


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState (the
    streaming twin of queries.sql_events_sessionize)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyspark.sql import functions as FF

    with_us = events.select("user_id", FF.unix_micros(FF.col("ts").cast("timestamp")).alias("us"))
    return with_us.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_extract_stream_with_lineage(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming extraction with the SAME lineage/commit protocol as
    the batch job: every micro-batch commits through
    ``plans.lineage.ExtractionJob`` (docs run-dir first, lineage rows
    last), keyed by epoch id.

    Exactly-once comes from two interlocking guarantees: the streaming
    checkpoint replays an epoch only if its foreachBatch didn't finish,
    and the lineage anti-join inside ``job.run`` skips any urls the
    interrupted attempt already committed — so replays are no-ops at
    the row level. One audit trail (the lineage table) then covers
    batch and streaming runs identically.
    """
    from ..plans.lineage import ExtractionJob

    job = ExtractionJob(out_dir)
    pages = read_pages_stream(spark, pages_dir)

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        job.run(batch_df.sparkSession, batch_df, run_id=f"epoch-{epoch_id:08d}")

    writer = pages.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed counts with a watermark for late rows.

    State is bounded by the watermark horizon — the property that lets
    this run forever on an unbounded 100TB/day stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    docs: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state
    for a key is dropped once the watermark passes its event time, so
    state size is bounded by the horizon's arrival rate, not by the
    total corpus — the property that keeps a 10^12-url stream
    feasible). The batch twin is ``operators.dedup.drop_exact_dups``;
    recrawls of the same url separated by more than the horizon are
    deliberately re-emitted (a recrawl IS a new observation)."""
    from pyspark.sql import functions as F

    d = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(ts_col, watermark)
    return d.dropDuplicatesWithinWatermark(list(key_cols))


def corpus_prep_stream(
    pages: DataFrame,
    watermark: str = "1 hour",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_dup_bigram_frac: float = 0.9,
) -> DataFrame:
    """The FULL corpus-prep pipeline as one continuous job — the
    streaming twin of :func:`gluon_ocr_spark.pipeline.prepare_corpus`:
    extraction (Arrow kernel, stateless) → quality/repetition gates
    (pure expressions, fused into the same stage) → exact content
    dedup within the watermark horizon (first arrival per
    content_fp keeps; state bounded by the horizon's arrival rate).

    Semantics vs batch: batch keeps the MIN-url canonical per
    fingerprint; the stream keeps the FIRST-arrival — identical
    whenever arrival order follows url/crawl order, and the honest
    streaming answer otherwise (a later recrawl beyond the horizon
    re-emits, which a continuous pipeline wants). Near-dup pruning
    stays batch-side (prepare_corpus): connected components need the
    full pair graph; the streaming approximation is
    :func:`near_dedup_stream`."""
    from ..operators.textstats import quality_gate

    # warc_ts rides the Arrow edge: the watermark dedup below needs it
    qualified = quality_gate(
        extract_docs(pages, carry=("warc_ts",)), min_tokens, max_tokens, max_dup_bigram_frac
    )
    keyed = qualified.withColumn(
        "content_fp", F.md5(F.lower(F.col("text")))
    ).withWatermark("warc_ts", watermark)
    deduped = keyed.dropDuplicatesWithinWatermark(["content_fp"])
    return deduped.select(
        "url", "warc_ts", "text", "n_tokens", "dup_bigram_frac", "content_fp"
    )


def near_dedup_stream(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
) -> DataFrame:
    """Streaming NEAR-dup dedup: minhash-band blocking inside the
    watermark horizon — the streaming twin of the batch
    ``minhash_bands`` → prune chain (operators/dedup.py).

    Online rule (causal, single-pass): a doc is kept iff NONE of its
    LSH band buckets has been claimed by ANY earlier doc inside the
    horizon — claimed buckets stay claimed even when the claiming doc
    was itself dropped, which makes an A~B~C chain collapse to just A
    (the same transitive-kill the batch connected-components pass
    computes; a pure pairwise streaming rule would re-emit C).

    Plan: one projection computes all band keys per doc (same inline
    single-scan shape as the batch operator), explode to one row per
    (bucket, doc), ``dropDuplicatesWithinWatermark`` on the bucket
    key keeps each bucket's FIRST claim, then a tumbling-window count
    per doc keeps docs that still own ALL their bands — two chained
    stateful operators (Spark ≥3.5 watermark propagation), state
    bounded by the horizon's bucket-arrival rate exactly like
    :func:`dedup_stream`. Emission is append-mode: a doc's verdict
    finalizes when the watermark passes its window (late-colliding
    docs inside the horizon were already blocked by bucket state).

    Tie behavior (ADVICE r4): ``dropDuplicatesWithinWatermark`` keeps
    whichever same-bucket row the engine processes first WITHIN one
    micro-batch, while the batch oracle
    (:func:`near_dedup_first_owner_batch`) breaks ties
    deterministically by (ts, id) — so two EQUAL-timestamp colliding
    docs arriving in the same trigger can diverge from the oracle
    (either one is a valid "first owner"; the kept-set SIZE and the
    transitive-kill semantics are unaffected). Across triggers the
    earlier arrival always wins, matching the oracle. Feed
    distinct-timestamp sources (or one-file triggers, as the restart
    tests do) when bit-stable agreement with the batch oracle
    matters.

    Returns (window_start, id, n_bands) rows for kept docs."""
    d = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return _claim_buckets(_band_rows(d, id_col, text_col, ts_col), id_col, ts_col, watermark, window)


def _band_rows(docs: DataFrame, id_col: str, text_col: str, ts_col: str) -> DataFrame:
    """(id, ts, band_id, band_key) — one row per LSH band of each doc.
    One projection computes all band keys over the token codes and
    ``inline`` explodes them (the single-scan shape of the batch band
    table, same keys)."""
    structs = ", ".join(
        f"named_struct('band_id', {band}, 'band_key', {pt.band_key_expr('codes', band, SPARK)})"
        for band in range(N_BANDS)
    )
    return docs.selectExpr(
        id_col, ts_col, f"{pt.token_codes(text_col, SPARK)} AS codes"
    ).selectExpr(id_col, ts_col, f"inline(array({structs}))")


def _claim_buckets(
    bands: DataFrame, id_col: str, ts_col: str, watermark: str, window: str
) -> DataFrame:
    """The streaming bucket-claim stage: each ``(band_id, band_key)``
    bucket keeps its first in-horizon claim, then a tumbling-window
    count keeps docs that still own all ``N_BANDS`` of their bands."""
    first = bands.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band_id", "band_key"]
    )
    kept = (
        first.groupBy(F.window(F.col(ts_col), window), F.col(id_col))
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") == N_BANDS)
    )
    return kept.select(
        F.col("window.start").alias("window_start"), F.col(id_col), F.col("n_bands")
    )


def near_dedup_first_owner_batch(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Batch oracle for :func:`near_dedup_stream`'s online rule: per
    band bucket the first owner is the min (ts, id) arrival; a doc is
    kept iff it owns every one of its buckets. Relational twin used
    by the restart test (NOT the batch production prune — that is
    drop_near_dups, whose Jaccard-verified CC is the offline-quality
    answer; this mirrors the weaker causal streaming rule)."""
    from pyspark.sql import Window

    bands = _band_rows(docs, id_col, text_col, ts_col)
    w = Window.partitionBy("band_id", "band_key").orderBy(F.col(ts_col), F.col(id_col))
    owned = bands.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    return (
        owned.groupBy(id_col)
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") == N_BANDS)
        .select(id_col, "n_bands")
    )


def incremental_dedup_stream(
    docs: DataFrame,
    base_bands: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
    window: str = "10 minutes",
) -> DataFrame:
    """Streaming INCREMENTAL dedup: the crawl stream filtered against
    a settled corpus snapshot — the streaming twin of
    :func:`gluon_ocr_spark.operators.dedup.incremental_dedup`, and
    exactly :func:`near_dedup_stream` with ONE extra STATELESS stage:
    before any bucket can be claimed, the doc's band rows are
    anti-joined against the snapshot's stored band table.

    Keep rule (causal, single pass): a doc is emitted iff (a) NONE of
    its LSH band buckets exists in the snapshot band table, and (b)
    it is the first in-horizon claimant of ALL its remaining buckets.
    An exact duplicate of a snapshot doc shares every band, so the
    batch operator's fingerprint anti-join stage is subsumed by (a) —
    no separate fp lookup needed. Bands that DID collide with the
    snapshot are filtered before the claim stage, and a doc dropped
    for a snapshot collision therefore never claims its other
    buckets; in-stream transitive kills still work exactly as in
    :func:`near_dedup_stream` (claimed buckets outlive dropped
    claimants).

    Scale: the stream-static anti-join is a stateless per-batch
    equi-join against the snapshot band table — persist/bucket it by
    (band_id, band_key) so each micro-batch is a hash probe, not a
    rescan; streaming state stays bounded by the horizon's bucket
    arrival rate, independent of snapshot size. After the horizon
    closes, append the emitted docs' bands to the snapshot table —
    the same artifact handoff as the batch operator's
    ``snapshot_artifacts``."""
    d = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    fresh = _band_rows(d, id_col, text_col, ts_col).join(
        base_bands.select("band_id", "band_key"), ["band_id", "band_key"], "left_anti"
    )
    return _claim_buckets(fresh, id_col, ts_col, watermark, window)


def incremental_first_owner_batch(
    docs: DataFrame,
    base_bands: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Batch oracle for :func:`incremental_dedup_stream`'s online
    rule: drop every band row present in the snapshot band table,
    then a doc is kept iff all of its bands survived AND it is the
    min-(ts, id) owner of each surviving bucket."""
    from pyspark.sql import Window

    fresh = _band_rows(docs, id_col, text_col, ts_col).join(
        base_bands.select("band_id", "band_key"), ["band_id", "band_key"], "left_anti"
    )
    w = Window.partitionBy("band_id", "band_key").orderBy(ts_col, id_col)
    owned = fresh.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    return (
        owned.groupBy(id_col)
        .agg(F.count("*").alias("n_owned"))
        .where(F.col("n_owned") == N_BANDS)
        .select(id_col)
    )
