"""Deduplication operators, DataFrame API.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup as composable
transforms — the same logic as the SQL battery (single source of
truth: :mod:`gluon_ocr_spark.functions.portable`).

The near-duplicate chain is written once, one function per step, and
every near-dup caller (:func:`drop_near_dups`,
:func:`incremental_dedup`, the shingle-minhash query) composes it:

    codes   (:func:`codes_table` — the persisted CollapseProject boundary)
    → bands (:func:`bands_from_codes` — LSH band table)
    → bucket pairs (:func:`bucket_pairs` — band-bucket self-join)
    → verify (:func:`verify_sets` — exact set Jaccard of the candidates,
             over :func:`token_sets` or shingle sets; the token-Jaccard
             prefix-filter query verifies through it too)
    → CC    (:func:`connected_components` — large/small-star)
    → keep  (component-min rows; :func:`_keep_component_min` runs
             verify → CC → keep over a persisted band table)

Scale notes (the part that matters at 10^12 docs):

* exact dedup is one hash-shuffle with map-side combine;
* minhash bands turn near-dup detection into an equi-join on
  (band_id, band_key) — shuffle-key join, never a cross join;
* candidate pairs are verified with exact Jaccard only within the
  (tiny) band buckets;
* skewed buckets (boilerplate-identical docs) are AQE-split, and the
  bucket join key includes band_id so one hot band can't serialize.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..functions import portable as pt
from ..functions.portable import SPARK


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups by content hash; returns (content_fp, canonical_id, n_dups)."""
    return (
        df.select(F.col(id_col), F.md5(F.lower(F.col(text_col))).alias("content_fp"))
        .groupBy("content_fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def drop_exact_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keeps only the canonical (min-id) row per content hash — the
    actual 'dedup the corpus' operator. Window over the hash key."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.lower(F.col(text_col)))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def drop_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    cc_workdir: str | None = None,
) -> DataFrame:
    """Keeps only the canonical (min-id) doc per NEAR-duplicate
    cluster — the production prune that :func:`drop_exact_dups`
    cannot do (exact hashing misses A~B~C chains of slightly-edited
    boilerplate, and pairwise keep rules leave transitive dups alive).

    Composition of the individually-gated stages:
    minhash bands → candidate pairs (equi-join on (band_id,
    band_key), :func:`bucket_pairs`) → exact token-set
    Jaccard VERIFICATION of the candidates (:func:`jaccard_verify` —
    LSH band collisions are candidates, not decisions; pruning on
    unverified pairs over-merges boilerplate-heavy corpora) →
    large-star/small-star connected components
    (:func:`connected_components`) over the verified edges → keep
    rows whose id IS the component min (or in no verified pair).

    Scale: the pair graph is tiny relative to the corpus (only docs
    sharing an LSH bucket survive candidate gen; Jaccard runs only on
    those), CC runs O(log n) equi-join rounds over it, and the final
    keep decision is ONE left join of the label table back to the
    corpus — no corpus-side shuffle beyond the band projection it
    already pays. Reference corpus semantics: one clean record per
    source doc (detect_dataset.py:131-150).
    """
    bands = minhash_bands(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    return _keep_component_min(df, bands, id_col, text_col, threshold, cc_workdir)


def _keep_component_min(
    df: DataFrame,
    bands: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    cc_workdir: str | None = None,
) -> DataFrame:
    """The chain's tail over ``df``'s already-persisted band table:
    bucket pairs → Jaccard verify → connected components → keep rows
    whose id IS the component min (or in no verified pair).

    ``cc_workdir`` gives CC durable per-round snapshots (object
    storage at the lake) so a driver/executor loss mid-CC costs one
    round, not the whole prune — the north rule's
    resumable-from-checkpoint contract applied to the iterative
    stage."""
    pairs = jaccard_verify(df, bucket_pairs(bands, id_col), id_col, text_col, threshold).select(
        "doc_a", "doc_b"
    )
    if cc_workdir is not None:
        labels = connected_components_resumable(df.sparkSession, pairs, cc_workdir)
    else:
        labels = connected_components(pairs)
    return (
        df.join(
            labels.withColumnRenamed("node", id_col).withColumnRenamed(
                "cluster_id", "__cluster"
            ),
            id_col,
            "left",
        )
        .where(F.col("__cluster").isNull() | (F.col(id_col) == F.col("__cluster")))
        .drop("__cluster")
    )


def codes_table(
    df: DataFrame,
    codes_expr: str,
    id_col: str = "doc_id",
    extra: tuple[str, ...] = (),
    persist: bool = True,
) -> DataFrame:
    """``(id[, extra…], codes)`` persisted — the CollapseProject
    boundary under every sketch. ``codes_expr`` is the token-code or
    shingle-code expression. The sketches reference the codes array
    many times (16 minhash sigs, 16 simhash bits, one slice per
    winnow window); without a materialization boundary Catalyst
    inlines the md5 pass into every reference — measured 6.7× slower
    for the band table at sf0.1 (6.7 s → 1.0 s). At lake scale this
    projection is what you'd write/bucket once anyway."""
    codes = df.select(F.col(id_col), *extra, F.expr(codes_expr).alias("codes"))
    return codes.persist(StorageLevel.MEMORY_AND_DISK) if persist else codes


def minhash_bands(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", materialize_codes: bool = True
) -> DataFrame:
    """(id, band_id, band_key) — LSH banding of minhash signatures
    over the token codes. ``materialize_codes`` persists the codes
    projection (:func:`codes_table`)."""
    codes = codes_table(df, pt.token_codes(text_col, SPARK), id_col, persist=materialize_codes)
    return bands_from_codes(codes, id_col)


def release_minhash_codes(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> None:
    """Drop from the cache the codes projection :func:`minhash_bands`
    persisted for ``df`` (the cache matches it by plan) — call it once
    every consumer of the band table has run. Unpersist frames built
    on the band table before it, so the cache recaches nothing."""
    codes_table(df, pt.token_codes(text_col, SPARK), id_col, persist=False).unpersist()


def bands_from_codes(codes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_id, band_key) from an ``(id, codes)`` frame.

    Single corpus scan: all K sigs / band keys computed in one
    projection and row-exploded (a UNION-ALL-per-band plan re-scans
    the corpus once per band — 8× in the self-join).

    The signature vector is computed in a PROJECT below the band
    explode, and the generator is a constant ``sequence`` — never
    ``inline(array(<sig exprs>))``: an expensive expression in the
    generator position is re-evaluated per GENERATED row (Generate
    carries no projection boundary; measured 12× on the analogous
    k-gram explode), while a pass-through child column is computed
    once per input row."""
    n_bands = pt.MINHASH_K // pt.BAND_ROWS
    sigs = ", ".join(pt.minhash_sig_exprs("codes", SPARK))
    sigv = codes.select(F.col(id_col), F.expr(f"array({sigs})").alias("sigv"))
    return (
        sigv.select(
            F.col(id_col),
            "sigv",
            F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band_id"),
        )
        .select(
            F.col(id_col),
            "band_id",
            F.expr(
                f"concat_ws('-', transform(slice(sigv, band_id * {pt.BAND_ROWS} + 1, "
                f"{pt.BAND_ROWS}), x -> cast(x as string)))"
            ).alias("band_key"),
        )
    )


def minhash_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct candidate near-dup pairs via band-bucket equi-join.

    The bands persist before the self-join so the minhash computation
    runs once, not once per join side. At lake scale, write bands to
    a table bucketed by band_key instead and the join becomes
    shuffle-free."""
    bands = minhash_bands(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    return bucket_pairs(bands, id_col)


def bucket_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs, ``doc_a < doc_b``, sharing a
    ``(band_id, band_key)`` bucket — the band table's self-join."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_star_edges(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-bucket STAR edges for cluster resolution: one edge
    (bucket-min doc, member doc) per band row instead of the full
    within-bucket clique.

    The LSH candidate relation is exactly a union of per-bucket
    cliques, and a clique has the same connected components as a star
    on any of its members — so feeding these edges to
    :func:`connected_components` yields components (and min-id
    cluster labels) IDENTICAL to feeding the all-pairs expansion,
    while generating O(Σ|B|) edges instead of O(Σ|B|²). On a
    boilerplate-heavy corpus the difference is decisive: at sf0.1 the
    bands table is 20k rows but the clique expansion is 12.1M pairs
    (6.5M distinct) — and at 10^12 docs a single hot template bucket
    would make the quadratic form un-runnable. Use
    :func:`minhash_candidate_pairs` when the pairs themselves are the
    product (e.g. to feed pairwise Jaccard verification); use this
    when only connectivity matters."""
    bands = minhash_bands(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    reps = bands.groupBy("band_id", "band_key").agg(F.min(id_col).alias("doc_a"))
    return (
        bands.join(reps, ["band_id", "band_key"])
        .where(F.col(id_col) != F.col("doc_a"))
        .select("doc_a", F.col(id_col).alias("doc_b"))
        .distinct()
    )


def simhash_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hamming-0 simhash blocking. The codes projection persists
    before the 16 per-bit sums — same CollapseProject boundary as
    :func:`minhash_bands` (the simhash expression references the
    codes array 16×; inlined, the md5 pass would run 16× per row)."""
    codes = codes_table(df, pt.token_codes(text_col, SPARK), id_col)
    return (
        codes.select(F.col(id_col), F.expr(pt.simhash16_expr("codes", SPARK)).alias("simhash16"))
        .groupBy("simhash16")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def token_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(id, ts)`` — each doc's distinct lowercased tokens, the set
    :func:`verify_sets` compares."""
    return df.select(
        F.col(id_col), F.expr(pt.arr_distinct(pt.tokens(text_col, SPARK), SPARK)).alias("ts")
    )


def verify_sets(
    pairs: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """The verify step: exact set Jaccard of the candidate
    ``(doc_a, doc_b)`` pairs. ``sets_a`` / ``sets_b`` are ``(id, set)``
    frames joined to ``doc_a`` / ``doc_b`` — key-equi joins on the id,
    so only candidate docs meet. Returns ``(doc_a, doc_b, jaccard)``
    for the pairs at or above ``threshold``, jaccard rounded to 4
    places (the SQL templates' float expression, so thresholding and
    rounding are bit-identical to the oracles)."""
    j = (
        pairs.join(sets_a.toDF("doc_a", "ts_a"), "doc_a")
        .join(sets_b.toDF("doc_b", "ts_b"), "doc_b")
        .withColumn("inter", F.expr("size(array_intersect(ts_a, ts_b))"))
        .withColumn("jaccard", F.expr("cast(inter as double) / (size(ts_a) + size(ts_b) - inter)"))
    )
    return j.where(F.col("jaccard") >= threshold).select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def jaccard_verify(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.8) -> DataFrame:
    """Verify candidate pairs of ``df`` docs with exact token-set
    Jaccard (:func:`verify_sets` over :func:`token_sets`)."""
    ts = token_sets(df, id_col, text_col)
    return verify_sets(pairs, ts, ts, threshold)


def _canon_edges(e: DataFrame) -> DataFrame:
    """Canonical high→low orientation, self-loops dropped, distinct."""
    return (
        e.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """True iff the canonical (u > v) edge set is a star forest: no
    parent ``v`` is itself a child ``u`` of another edge. This is
    exactly the fixed point of the large-star/small-star iteration,
    so testing it converges ONE ROUND EARLIER than checksum-equality
    (which must run a full extra round to observe no change) while
    returning the identical final edge set. One semi-join + isEmpty —
    no driver-side edge collection."""
    return e.alias("a").join(
        e.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi"
    ).isEmpty()


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round (Kiveris et al.); input and
    output are canonical u>v edge sets."""
    # -- large-star: for each node u, link every LARGER neighbor v
    #    to m(u) = min(Γ(u) ∪ {u}). Halves tall trees.
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m_large = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    edges = _canon_edges(
        sym.join(m_large, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # -- small-star: for each node u, link u and every SMALLER
    #    neighbor to m(u) = min(Γ⁻(u) ∪ {u}) (edges are canonical
    #    u > v, so Γ⁻ is just the v column).
    m_small = edges.groupBy("u").agg(F.min("v").alias("m"))
    small = edges.join(m_small, "u")
    return _canon_edges(
        small.where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(small.select("u", "m"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a pair
    graph via alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log n) rounds, every step an equi-join or a groupBy-min.

    This is the stage AFTER candidate/verified pairs that a real
    dedup deployment needs: pairs alone leave transitive duplicates
    alive (A~B, B~C but A≁C ⇒ C survives a pairwise keep-policy).
    Returns one row per node that appears in ``pairs``:
    ``(node, cluster_id)`` with ``cluster_id`` = min node id of the
    component — deterministic, engine-independent.

    Scale design (10^12 docs):

    * NO ``collect_list`` star materialization — a boilerplate hub
      with 10^8 neighbors would concentrate in one task.  Each star
      round is ``groupBy(u).agg(min)`` (map-side combinable) plus an
      equi-join of the edge list back to the per-node min: hot nodes
      stay distributed across their edge partitions.
    * Edges are kept canonical ``u > v`` and de-duplicated per round,
      so the working set shrinks monotonically toward the star forest.
    * ``localCheckpoint`` after every round truncates the growing
      lineage (iterative plans otherwise re-plan the whole history
      each action; on a real cluster prefer reliable
      ``checkpoint()`` on HDFS/object storage so executor loss
      cannot lose iteration state). The checkpoint is LAZY: the
      convergence probe that follows materializes it, so each round
      costs one job instead of two.
    * Convergence = the canonical edge set IS a star forest
      (:func:`_is_star_forest` — one semi-join + isEmpty per round,
      no driver-side edge collection); this is the iteration's fixed
      point, detected one round earlier than checksum-equality.
      Rounds are O(log n) by the large/small-star potential argument,
      3-5 in practice for near-clique dup graphs.
    """
    edges = _canon_edges(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    edges = edges.localCheckpoint(eager=False)

    for _ in range(max_iterations):
        if _is_star_forest(edges):
            break
        edges = _star_round(edges).localCheckpoint(eager=False)
    return _star_labels(edges)


def _star_labels(edges: DataFrame) -> DataFrame:
    """(node, cluster_id) from a converged star forest: every non-root
    points straight at the component min; roots are the distinct
    targets."""
    return edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id")).union(
        edges.select("v", "v").distinct()
    )


def connected_components_resumable(
    spark,
    pairs: DataFrame | None,
    workdir: str,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """:func:`connected_components` with DURABLE per-round snapshots —
    the iterative-job twin of the extraction pipeline's lineage/resume
    contract (plans/lineage.py; north-rule "resumable from checkpoint").

    Every round's canonical edge set is written to
    ``{workdir}/round=NNNN`` as parquet (Spark's ``_SUCCESS`` marker
    makes the write atomic-at-the-dir level); on start the operator
    scans for the LATEST complete snapshot and resumes the star
    iteration from it, so a driver/executor loss mid-CC costs at most
    one round of recompute instead of the whole job. On a cluster,
    point ``workdir`` at object storage — every write is a plain
    parquet commit, no special checkpoint infrastructure.

    ``pairs`` may be None when resuming (round ≥ 0 snapshot exists);
    passing pairs AND having snapshots resumes from the snapshot (the
    pair list is only read for round 0).
    """
    import os

    from ..plans.lineage import path_exists

    def round_dir(k: int) -> str:
        return os.path.join(workdir, f"round={k:04d}")

    def complete(k: int) -> bool:
        return path_exists(spark, os.path.join(round_dir(k), "_SUCCESS"))

    start = -1
    k = 0
    while complete(k):
        start = k
        k += 1

    if start < 0:
        if pairs is None:
            raise ValueError(f"no snapshot under {workdir} and no pairs given")
        edges = _canon_edges(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
        edges.write.mode("overwrite").parquet(round_dir(0))
        start = 0
    edges = spark.read.parquet(round_dir(start))

    for k in range(start + 1, start + 1 + max_iterations):
        if _is_star_forest(edges):
            break  # fixed point reached — nothing more to write
        nxt = _star_round(edges)
        nxt.write.mode("overwrite").parquet(round_dir(k))
        edges = spark.read.parquet(round_dir(k))  # durable lineage cut
    return _star_labels(edges)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Corpus-level keep/drop decisions from a duplicate-pair graph:
    ``(doc_id, cluster_id, cluster_size, keep)`` for EVERY corpus doc
    (singletons are their own cluster). ``keep`` marks the canonical
    min-id doc per cluster — the policy the reference's corpus
    semantics imply (detect_dataset.py keeps first occurrence).

    One equi-join of the (small) label table back to the corpus plus
    one count shuffle on cluster_id; the corpus itself shuffles once.
    """
    labels = connected_components(pairs, src, dst)
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    sizes = out.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        out.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ 2 of the 16-bit
    simhash, via band-PAIR mask blocking (the rotate-band family).

    4 bands of 4 bits; any ≤2 differing bits fall into ≤2 bands, so
    blocking on the 6 two-band-masked values guarantees every
    qualifying pair collides on at least one (mask_id, bucket) key —
    a bucket equi-join with constant 6× key blow-up, never all-pairs,
    verified by exact popcount.

    The (id, simhash) projection persists so the md5 token-hash pass
    runs ONCE instead of once per join side (the SQL template in
    queries.py recomputes it; this is the scale form — same rows). At
    lake scale write the keyed table bucketed by (mask_id, bucket)
    instead and the join is shuffle-free."""
    band = lambda i: 0xF << (4 * i)  # noqa: E731
    masks = [
        (idx, 0xFFFF & ~(band(i) | band(j)))
        for idx, (i, j) in enumerate((i, j) for i in range(4) for j in range(i + 1, 4))
    ]
    codes = codes_table(df, pt.token_codes(text_col, SPARK), id_col)
    sh = codes.select(
        F.col(id_col), F.expr(pt.simhash16_expr("codes", SPARK)).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    mask_rows = ", ".join(f"({idx}, {m})" for idx, m in masks)
    keyed = sh.selectExpr(
        id_col, "sh", f"inline(arrays_zip(array({', '.join(str(i) for i, _ in masks)}), "
        f"array({', '.join(str(m) for _, m in masks)})))"
    ).selectExpr(id_col, "sh", "`0` AS mask_id", "sh & `1` AS bucket")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.mask_id") == F.col("b.mask_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(F.expr("bit_count(a.sh ^ b.sh)") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("CAST(bit_count(a.sh ^ b.sh) AS INT)").alias("hamming"),
        )
        .distinct()
    )


def snapshot_artifacts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The two small per-snapshot artifacts an incremental crawl
    stores NEXT TO the corpus so later batches never re-scan it:

    * ``fps``   — distinct content fingerprints (one md5 per unique
      text; at a lake: a table bucketed by ``content_fp``);
    * ``bands`` — the MinHash LSH band table ``(id, band_id,
      band_key)`` (at a lake: bucketed by ``(band_id, band_key)`` so
      the batch-vs-base candidate join is shuffle-free on the base
      side).

    Both are derived by :func:`incremental_dedup` on the fly when not
    supplied — correct, but at 10^12 base docs recomputing them per
    batch re-scans the whole corpus; store them once per snapshot and
    append the admitted batch's rows after each increment."""
    fps = df.select(F.md5(F.lower(F.col(text_col))).alias("content_fp")).distinct()
    bands = minhash_bands(df, id_col, text_col)
    return fps, bands


def incremental_dedup(
    batch: DataFrame,
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    base_fps: DataFrame | None = None,
    base_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedups a NEW batch against an EXISTING corpus snapshot — the
    operation a recurring crawl actually runs (VERDICT r4 stretch
    item 10): the snapshot is settled and never re-deduped; only the
    batch is filtered, in four stages, each a key-equi join:

    1. exact vs base  — anti-join batch fingerprints against the
       snapshot fingerprint table (``base_fps``);
    2. exact in batch — :func:`drop_exact_dups`;
    3. near vs base   — batch LSH bands join the snapshot band table
       (``base_bands``) on ``(band_id, band_key)``; candidates are
       verified with exact token-set Jaccard against the base text
       (candidate-only join back to the snapshot), and any batch doc
       with a verified base neighbor is dropped — first-arrival wins,
       the snapshot copy stays canonical;
    4. near in batch  — the same tail as :func:`drop_near_dups`
       (bucket pairs → verify → connected components → keep
       component-min) over the survivors.

    Against a statically empty snapshot (``CommitLog.read`` of no
    ids) stages 1 and 3 fold away: ``drop_near_dups(drop_exact_dups)``.

    Scale shape at 10^12 base docs + a daily batch: the base is
    touched only through its two stored artifacts (fingerprints,
    bands — :func:`snapshot_artifacts`) plus a candidate-only text
    fetch in stage 3 (the snapshot is SEMI-JOINED down to the docs
    that actually collided in a band bucket before any tokenization —
    re-tokenizing the settled corpus per ingest would break the
    10^12-doc contract). The batch side of every join is small —
    broadcastable when the increment fits, shuffle-on-key otherwise —
    and stage 3's verify joins the (tiny) candidate list to the
    corpus by id, hitting the snapshot's primary-key layout. The
    batch band table is computed ONCE and persisted: stage 4's
    within-batch candidates reuse it filtered to stage-3 survivors
    (banding is per-row, so the filtered rows are identical to
    re-banding the survivors). Returns the admitted batch rows with
    their original columns.

    Persist/cache note: e2, the batch band table, its stage-4 subset
    and the codes projection under the band table are released once
    connected components has returned (the result then reads only the
    eager e3 checkpoint and the CC checkpoints)."""
    if base_fps is None or base_bands is None:
        fps_d, bands_d = snapshot_artifacts(base, id_col, text_col)
        base_fps = base_fps if base_fps is not None else fps_d
        base_bands = base_bands if base_bands is not None else bands_d

    e1 = batch.join(
        base_fps.withColumnRenamed("content_fp", "__fp"),
        F.md5(F.lower(F.col(text_col))) == F.col("__fp"),
        "left_anti",
    )
    e2 = drop_exact_dups(e1, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    batch_bands = minhash_bands(e2, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        batch_bands.alias("nb")
        .join(
            base_bands.alias("bb"),
            (F.col("nb.band_id") == F.col("bb.band_id"))
            & (F.col("nb.band_key") == F.col("bb.band_key")),
        )
        .select(
            F.col(f"nb.{id_col}").alias("doc_a"), F.col(f"bb.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # candidate-only snapshot fetch: tokenize ONLY the base docs some
    # batch doc collided with (a semi-join by id against the tiny
    # candidate list), never the whole settled corpus
    base_cand = base.join(
        cand.select(F.col("doc_b").alias(id_col)).distinct(), id_col, "semi"
    )
    hit = (
        verify_sets(
            cand,
            token_sets(e2, id_col, text_col),
            token_sets(base_cand, id_col, text_col),
            threshold,
        )
        .select("doc_a")
        .distinct()
    )
    e3 = e2.join(hit.withColumnRenamed("doc_a", id_col), id_col, "left_anti")
    # materialize before the within-batch prune: the pruning stages
    # below read this frame three times (verify both sides / final
    # keep) and the CC loop runs several actions — without a boundary
    # each one re-executes the stage-3 band join + Jaccard verify
    # (measured 62 s vs 27 s at sf0.1 in a warm battery session).
    # Same pattern as prepare_corpus' pre-prune snapshot; on a
    # cluster prefer reliable checkpoint()/an intermediate table.
    e3 = e3.localCheckpoint(eager=True)
    # stage 4 (near-in-batch): the chain's tail over the ALREADY-
    # COMPUTED batch band table filtered to stage-3 survivors —
    # row-identical to re-banding e3, without a second md5/signature
    # pass over the batch
    bands3 = batch_bands.join(e3.select(id_col), id_col, "semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    kept = _keep_component_min(e3, bands3, id_col, text_col, threshold)
    bands3.unpersist()  # dependents first: no recache
    batch_bands.unpersist()
    release_minhash_codes(e2, id_col, text_col)
    e2.unpersist()
    return kept
