"""The engine's query battery — every driver-checkable operator.

Each query exists in two renderings generated from ONE template
(:mod:`gluon_ocr_spark.functions.portable`): Spark SQL (run through
``spark.sql`` over temp views, so Catalyst plans it) and DuckDB SQL
(the driver's oracle). All hashing is md5-derived and all similarity
arithmetic is exact int64, so outputs are bit-identical across
engines — see portable.py for the construction.

Float outputs are always produced by a single deterministic chain of
IEEE double ops over exact integers (cents/quantized units), then
``round(x, k)`` — never by engine-ordered double accumulation — so
sum-order differences between Spark and DuckDB cannot leak into
results.

Query inventory (SURVEY §2 mapping in each docstring) plus the
training-data-pipeline operators the engine adds: dedup (exact /
n-gram Jaccard / MinHash-LSH / SimHash), similarity search
(exact top-k + LSH-bucketed ANN), text analysis, multimodal metadata.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import portable as pt
from .functions.portable import DUCK, SPARK

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _spread(df: DataFrame, path: str, *keys: str) -> DataFrame:
    """Scale-adaptive input spreading (optimization guide §2.5 "input
    skew": one huge unsplittable file → repartition immediately after
    the read). The local test parquet is written as a single row
    group, so a Parquet scan yields ONE non-empty task and every
    scan-side map phase — the md5 token pass, Arrow extraction,
    broadcast-join pair generation, partial aggregation — runs
    single-threaded regardless of core count (measured 7.4 s → 0.9 s
    for dedup_minhash_pairs at sf0.1/local[32]).

    Spread condition: the input is too small to fill the cluster —
    total scan bytes below ``defaultParallelism × 32 MB`` (i.e. the
    scan cannot yield one healthy split per core). Such an input is
    by definition cheap to reshuffle anywhere; a real 100 TB table
    scans as thousands of splits and is left untouched. The decision
    reads file metadata only (no job, no RDD conversion) and the
    partition count derives from the cluster (``defaultParallelism``),
    never a local constant. Hash-repartition on the given keys keeps
    the assignment deterministic (no sort-before-repartition pass)
    and lets a downstream join/window keyed the same way reuse the
    exchange."""
    import os

    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return df  # non-local path (object store): real deployment, no spread
    if nbytes >= p * 32 * 1024 * 1024:
        return df
    if keys:
        return df.repartition(p, *[F.col(k) for k in keys])
    return df.repartition(p)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, spread (single shared builder so every
    override query produces the same canonicalized plan — persisted
    projections derived from it cache-substitute across the battery)."""
    path = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(path), path, "doc_id")


def _emb_spread_view(spark: SparkSession, sf_dir: str) -> str:
    """Registers (and returns the name of) a spread embeddings view
    for Spark-side overrides whose assignment/subvector map phases
    would otherwise run inside the single-row-group scan's one task
    (the oracle keeps reading the plain ``embeddings`` view)."""
    path = f"{sf_dir}/embeddings.parquet"
    _spread(spark.read.parquet(path), path, "vec_id").createOrReplaceTempView(
        "embeddings_spread"
    )
    return "embeddings_spread"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    # the driver may hand us a session with a non-UTC timezone; all
    # timestamp math (unix_micros of TIMESTAMP_NTZ casts) must agree
    # with DuckDB's UTC-naive semantics
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _sql_query(template: Callable[[str], str]):
    """Wrap a dialect→SQL template into a (spark, sf_dir) callable."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(template(SPARK))

    return run


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------


def sql_text_stats(d: str) -> str:
    """Token counting + char stats (token counter of the training-data
    pipeline; whitespace tokenizer)."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    nd = pt.arr_size(pt.arr_distinct(toks, d), d)
    return f"""
    SELECT doc_id,
           {n} AS n_tokens,
           length(text) AS n_chars,
           {nd} AS n_distinct_tokens,
           round(cast(length(text) - ({n} - 1) as double) / {n}, 4) AS avg_token_len
    FROM documents
    """


_BPE_PAT = "''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def sql_text_bpe_tokens(d: str) -> str:
    """BPE-style pre-tokenizer counting (the other half of the brief's
    "token counting: whitespace + a BPE-ish regex"; whitespace is
    text_stats). The pattern is the GPT-2 pre-tokenizer shape —
    contraction suffixes, space-prefixed letter runs, digit runs,
    punctuation runs — restricted to constructs RE2 (DuckDB) and Java
    regex (Spark) evaluate identically: no lookahead, no unicode
    classes (ASCII corpus). Token counts are THE budgeting quantity of
    an LLM data pipeline (sampling weights, epoch sizing, price
    estimates); chars_per_token is its compressibility signal.
    Map-only projection, zero shuffle, zero UDF."""
    n = (
        f"size(regexp_extract_all(text, '{_BPE_PAT}', 0))"
        if d == SPARK
        else f"len(regexp_extract_all(text, '{_BPE_PAT}'))"
    )
    alpha = (
        "size(regexp_extract_all(text, '[A-Za-z]+', 0))"
        if d == SPARK
        else "len(regexp_extract_all(text, '[A-Za-z]+'))"
    )
    digits = (
        "size(regexp_extract_all(text, '[0-9]+', 0))"
        if d == SPARK
        else "len(regexp_extract_all(text, '[0-9]+'))"
    )
    return f"""
    SELECT doc_id,
           {n} AS n_bpe_tokens,
           {alpha} AS n_alpha_runs,
           {digits} AS n_digit_runs,
           round(cast(length(text) AS double) / {n}, 4) AS chars_per_token
    FROM documents
    WHERE length(text) > 0
    """


_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


def sql_text_quality(d: str) -> str:
    """Quality scoring: stopword ratio, lexical diversity, length gates
    (the quality-filter stage a 100TB corpus pipeline runs pre-training)."""
    toks = pt.tokens("text", d)
    stop_lit = ", ".join(f"'{w}'" for w in _STOPWORDS)
    arr = f"array({stop_lit})" if d == SPARK else f"[{stop_lit}]"
    contains = "array_contains" if d == SPARK else "list_contains"
    nstop = pt.arr_size(pt.arr_filter(toks, f"t -> {contains}({arr}, t)", d), d)
    n = pt.arr_size(toks, d)
    nd = pt.arr_size(pt.arr_distinct(toks, d), d)
    return f"""
    SELECT doc_id, lang,
           round(cast({nstop} as double) / {n}, 4) AS stop_ratio,
           round(cast({nd} as double) / {n}, 4) AS lexical_diversity,
           (({n} >= 10) AND ({n} <= 2000) AND ({nstop} > 0)) AS quality_ok
    FROM documents
    """


def sql_text_lang_id(d: str) -> str:
    """Heuristic language ID: per-language stopword hit counts →
    deterministic argmax (first language in sorted order wins ties).
    Portable CASE-chain argmax; the DataFrame-API twin is
    operators.textstats.with_lang_id."""
    from .operators.textstats import LANG_PROFILES

    toks = pt.tokens("text", d)
    contains = "array_contains" if d == SPARK else "list_contains"
    langs = sorted(LANG_PROFILES)
    scores = {}
    for lang in langs:
        lit = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        arr = f"array({lit})" if d == SPARK else f"[{lit}]"
        scores[lang] = pt.arr_size(pt.arr_filter(toks, f"t -> {contains}({arr}, t)", d), d)
    score_cols = ",\n           ".join(f"{scores[lang]} AS s_{lang}" for lang in langs)
    case = " ".join(
        "WHEN " + " AND ".join(f"s_{lang} >= s_{other}" for other in langs if other != lang) + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    return f"""
    WITH s AS (
        SELECT doc_id, lang AS lang_label,
           {score_cols}
        FROM documents
    )
    SELECT doc_id, lang_label,
           CASE {case} ELSE '{langs[-1]}' END AS lang_pred
    FROM s
    """


def sql_corpus_gate_funnel(d: str) -> str:
    """Quality-gate FUNNEL receipt: the marginal and joint drop
    counts of prepare_corpus' gate chain (n_tokens in [10, 100000],
    n_chars > 0, dup_bigram_frac <= 0.9) — what a pipeline owner
    reads before touching thresholds: which gate does the work,
    which is dead weight, how much survives. One scan, one global
    aggregate of boolean flags; all-integer (the dup-bigram gate
    compares 10·dup_count <= 9·n_bigrams — no float division; this is
    the EXACT rational threshold, whereas the pipeline gate compares
    the 4-decimal-rounded frac — they can differ only for fracs
    within 5e-5 of 0.9)."""
    toks = pt.tokens("text", d)
    if d == SPARK:
        n = "size(tk)"
        bg = (
            "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
            "ELSE array() END"
        )
        nd = "size(array_distinct(bg))"
        nb = "size(bg)"
    else:
        n = "len(tk)"
        bg = (
            "CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), "
            "i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END"
        )
        nd = "len(list_distinct(bg))"
        nb = "len(bg)"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk, length(text) AS n_chars FROM documents),
    b AS (SELECT doc_id, {n} AS n_tokens, n_chars, {bg} AS bg FROM t),
    flags AS (
        SELECT doc_id,
               CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END AS f_min_tokens,
               CASE WHEN n_tokens > 100000 THEN 1 ELSE 0 END AS f_max_tokens,
               CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END AS f_chars,
               CASE WHEN {nb} > 0 AND 10 * ({nb} - {nd}) > 9 * {nb}
                    THEN 1 ELSE 0 END AS f_dup_bigram
        FROM b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_min_tokens) AS BIGINT) AS drop_min_tokens,
           CAST(sum(f_max_tokens) AS BIGINT) AS drop_max_tokens,
           CAST(sum(f_chars) AS BIGINT) AS drop_empty,
           CAST(sum(f_dup_bigram) AS BIGINT) AS drop_dup_bigram,
           CAST(sum(CASE WHEN f_min_tokens + f_max_tokens + f_chars + f_dup_bigram = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM flags
    """


def sql_text_repetition(d: str) -> str:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    standard pre-training corpus quality rules): fraction of
    duplicate word-2-grams, the top 2-gram's share, and the
    consecutive-duplicate-token rate. High values mark boilerplate /
    spam / degenerate generations; a 100 TB pipeline drops rows on
    thresholds over exactly these columns. All-integer counts →
    one deterministic division, exact across engines."""
    toks = pt.tokens("text", d)
    if d == SPARK:
        bg = (
            "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
            "ELSE array() END"
        )
        reps = (
            "CASE WHEN size(tk) >= 2 THEN size(filter(sequence(1, size(tk) - 1), "
            "i -> element_at(tk, i) = element_at(tk, i + 1))) ELSE 0 END"
        )
        explode = "explode"
        nd = "size(array_distinct(bg))"
        nb = "size(bg)"
    else:
        bg = (
            "CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), "
            "i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END"
        )
        reps = (
            "CASE WHEN len(tk) >= 2 THEN len(list_filter(generate_series(1, len(tk) - 1), "
            "i -> tk[i] = tk[i + 1])) ELSE 0 END"
        )
        explode = "unnest"
        nd = "len(list_distinct(bg))"
        nb = "len(bg)"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    b AS (SELECT doc_id, {bg} AS bg, {reps} AS n_consec FROM t),
    stats AS (SELECT doc_id, {nb} AS n_bg, {nd} AS nd_bg, n_consec FROM b),
    e AS (SELECT doc_id, {explode}(bg) AS g FROM b),
    c AS (SELECT doc_id, g, count(*) AS n FROM e GROUP BY doc_id, g),
    m AS (SELECT doc_id, max(n) AS top_n FROM c GROUP BY doc_id)
    SELECT s.doc_id,
           s.n_bg,
           round(cast(s.n_bg - s.nd_bg AS double) / s.n_bg, 4) AS dup_bigram_frac,
           round(cast(m.top_n AS double) / s.n_bg, 4) AS top_bigram_frac,
           round(cast(s.n_consec AS double) / s.n_bg, 4) AS consec_dup_frac
    FROM stats s JOIN m ON s.doc_id = m.doc_id
    WHERE s.n_bg > 0
    """


def sql_text_bigram_rarity(d: str) -> str:
    """Corpus-conditioned rarity score — the integer-exact stand-in
    for n-gram-LM perplexity filtering: rank every word 2-gram by
    corpus frequency (count DESC, gram ASC — total deterministic
    order), then score each doc by the mean rank of its bigrams.
    Rare-bigram-heavy docs (typos, gibberish, OCR noise) score high;
    boilerplate scores low. Two corpus passes: one count/rank
    aggregate (map-side combinable; the rank table is dimension-sized
    and broadcastable at 100 TB) and one score join; all arithmetic
    is integer sums before a single rounded division, so Spark and
    DuckDB agree bit-for-bit (a float log-prob would diverge in the
    last ulp between libm implementations)."""
    toks = pt.tokens("text", d)
    if d == SPARK:
        bg = (
            "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
            "ELSE array() END"
        )
        explode = "explode"
    else:
        bg = (
            "CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), "
            "i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END"
        )
        explode = "unnest"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    b AS (SELECT doc_id, {bg} AS bg FROM t),
    e AS (SELECT doc_id, {explode}(bg) AS g FROM b),
    counts AS (SELECT g, count(*) AS n FROM e GROUP BY g),
    ranks AS (SELECT g, row_number() OVER (ORDER BY n DESC, g) AS r FROM counts)
    SELECT e.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(r.r) AS BIGINT) AS rank_sum,
           round(cast(sum(r.r) AS double) / count(*), 4) AS mean_rank
    FROM e JOIN ranks r ON e.g = r.g
    GROUP BY e.doc_id
    """


def sql_text_lm_surprisal(d: str) -> str:
    """CONDITIONAL bigram-LM surprisal filter — the CCNet/Wikipedia-
    LM perplexity gate re-expressed integer-exact: train p(w2|w1) on
    the corpus itself (context count = bigram occurrences starting
    with w1), score every doc by the summed integer surprisal
    ilog2 c(w1) − ilog2 c(w1,w2) ≈ −log2 p(w2|w1) of its bigrams,
    where ilog2 x = floor(log2 x) = length(bin(x)) − 1 — pure integer
    in both engines, so no libm-ulp divergence (the repo's log-free
    IDF convention). Differs from text_bigram_rarity (marginal
    frequency rank): this conditions on the left context, so a rare
    word in its usual collocation scores LOW while a common word in
    an alien context scores HIGH — the actual LM-filter signal.
    Plan: one explode pass, two map-side-combinable count aggregates
    (the count tables are dimension-sized — broadcastable at 100 TB),
    one score join, one per-doc aggregate. High mean_milli_surprisal
    ⇒ gibberish/OCR noise; near-zero ⇒ boilerplate."""
    toks = pt.tokens("text", d)
    if d == SPARK:
        pairs = (
            "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
            "i -> struct(element_at(tk, i) AS w1, "
            "concat(element_at(tk, i), ' ', element_at(tk, i + 1)) AS g)) "
            "ELSE array() END"
        )
        e_body = "SELECT doc_id, p.w1 AS w1, p.g AS g FROM b LATERAL VIEW explode(pb) pv AS p"
        idiv = "div"
    else:
        pairs = (
            "CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), "
            "i -> {'w1': tk[i], 'g': tk[i] || ' ' || tk[i + 1]}) ELSE [] END"
        )
        e_body = (
            "SELECT doc_id, u.w1 AS w1, u.g AS g "
            "FROM (SELECT doc_id, unnest(pb) AS u FROM b) xx"
        )
        idiv = "//"
    surp = "(length(bin(cw.n)) - 1) - (length(bin(cg.n)) - 1)"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    b AS (SELECT doc_id, {pairs} AS pb FROM t),
    e AS ({e_body}),
    cg AS (SELECT g, count(*) AS n FROM e GROUP BY g),
    cw AS (SELECT w1, count(*) AS n FROM e GROUP BY w1)
    SELECT e.doc_id,
           count(*) AS n_bigrams,
           CAST(sum({surp}) AS BIGINT) AS surprisal_sum,
           CAST((1000 * CAST(sum({surp}) AS BIGINT)) {idiv} count(*) AS BIGINT)
               AS mean_milli_surprisal
    FROM e
    JOIN cg ON cg.g = e.g
    JOIN cw ON cw.w1 = e.w1
    GROUP BY e.doc_id
    """


def sql_dedup_incremental_funnel(d: str) -> str:
    """Stage-by-stage funnel receipt for the incremental dedup (the
    measured-not-assumed companion of ``dedup_incremental``): how many
    batch docs survive each snapshot-facing stage — exact-vs-base
    anti-join, min-id exact dedup within the batch, LSH-candidate +
    exact-Jaccard near-dup check against the base. (The final
    within-batch CC stage's output is the dedup_incremental row set
    itself.) One row; every stage is the same key-equi shape as the
    operator, so the receipt costs what one operator run costs."""
    codes = pt.token_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS

    def band_selects(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT doc_id, {band} AS band_id, "
            f"{pt.band_key_expr('codes', band, d)} AS band_key FROM {src}"
            for band in range(n_bands)
        )

    tset = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        "size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    na = pt.arr_size("a.ts", d)
    nb = pt.arr_size("b.ts", d)
    return f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
    ),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    base_fp AS (SELECT DISTINCT md5(lower(text)) AS fp FROM base),
    e1 AS (
        SELECT * FROM batch
        WHERE NOT EXISTS (
            SELECT 1 FROM base_fp WHERE base_fp.fp = md5(lower(batch.text))
        )
    ),
    r AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        FROM e1
    ),
    e2 AS (SELECT doc_id, text FROM r WHERE rn = 1),
    cb AS (SELECT doc_id, {codes} AS codes FROM e2),
    cbase AS (SELECT doc_id, {codes} AS codes FROM base),
    bands_batch AS ({band_selects('cb')}),
    bands_base AS ({band_selects('cbase')}),
    cand AS (
        SELECT DISTINCT nb.doc_id AS doc_a, bb.doc_id AS doc_b
        FROM bands_batch nb JOIN bands_base bb
          ON nb.band_id = bb.band_id AND nb.band_key = bb.band_key
    ),
    tsb AS (SELECT doc_id, {tset} AS ts FROM e2),
    tsbase AS (SELECT doc_id, {tset} AS ts FROM base),
    hit AS (
        SELECT DISTINCT p.doc_a
        FROM cand p
        JOIN tsb a ON a.doc_id = p.doc_a
        JOIN tsbase b ON b.doc_id = p.doc_b
        WHERE cast({inter} AS double) / ({na} + {nb} - {inter}) >= 0.8
    ),
    e3 AS (
        SELECT * FROM e2
        WHERE NOT EXISTS (SELECT 1 FROM hit WHERE hit.doc_a = e2.doc_id)
    )
    SELECT (SELECT count(*) FROM batch) AS n_batch,
           (SELECT count(*) FROM e1) AS n_after_exact_base,
           (SELECT count(*) FROM e2) AS n_after_exact_batch,
           (SELECT count(*) FROM cand) AS n_base_candidates,
           (SELECT count(*) FROM hit) AS n_near_base_hits,
           (SELECT count(*) FROM e3) AS n_after_near_base
    """



def sql_corpus_dsir_sample(d: str) -> str:
    """DSIR-style importance resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw doc by how target-like its
    hashed n-gram feature distribution is, then keep the top slice —
    the data-selection step between crawling and pretraining.

    Features: word bigrams hashed into 128 buckets (portable md5
    bucket ids). Target distribution: the corpus's ``lang = 'en'``
    slice (resampling a multilingual crawl toward English-like
    text). Per-bucket weight = add-1-smoothed target/corpus ratio,
    scaled to int: ((n_tgt+1)·10⁶) div (n_all+1); per-doc score =
    sum of its feature occurrences' weights, and the ranking key is
    the per-feature MEAN (score·1000 div n_feats) so long docs do
    not outrank target-like docs. Deviations from the paper,
    documented: DSIR sums float log-likelihood ratios (length-biased
    by design); this engine sums scaled smoothed ratios and ranks by
    their mean so the score is a pure int64, bit-identical across
    engines (no libm) — measured on the sf0.01 fixture the selected
    slice is 74% target-language vs a 44% corpus base rate (the raw
    sum variant reads 47%: length-dominated).

    Scale shape: two combinable count aggregates (the 128-row weight
    table is broadcast-sized at any corpus size), one equi-join of
    features to weights, and the top slice is ORDER BY+LIMIT —
    Spark plans TakeOrderedAndProject (per-partition heaps), never a
    SinglePartition window. Docs with <2 tokens have no features and
    are excluded from selection by construction."""
    toks = pt.tokens("text", d)
    idiv = "div" if d == SPARK else "//"
    if d == SPARK:
        bg = (
            "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
            "ELSE array() END"
        )
        explode = "explode"
    else:
        bg = (
            "CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1), "
            "i -> tk[i] || ' ' || tk[i + 1]) ELSE [] END"
        )
        explode = "unnest"
    return f"""
    WITH t AS (SELECT doc_id, lang, {toks} AS tk FROM documents),
    bgr AS (SELECT doc_id, lang, {bg} AS bg FROM t),
    e AS (SELECT doc_id, lang, {explode}(bg) AS g FROM bgr),
    f AS (SELECT doc_id, lang, {pt.hex15('g', d)} % 128 AS bkt FROM e),
    allc AS (SELECT bkt, count(*) AS n_all FROM f GROUP BY bkt),
    tgt AS (SELECT bkt, count(*) AS n_tgt FROM f WHERE lang = 'en' GROUP BY bkt),
    w AS (
        SELECT allc.bkt,
               ((coalesce(tgt.n_tgt, 0) + 1) * 1000000) {idiv} (allc.n_all + 1) AS w
        FROM allc LEFT JOIN tgt ON allc.bkt = tgt.bkt
    ),
    scores AS (
        SELECT f.doc_id, count(*) AS n_feats, CAST(sum(w.w) AS BIGINT) AS score
        FROM f JOIN w ON f.bkt = w.bkt
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_feats, score,
           (score * 1000) {idiv} n_feats AS score_milli_mean
    FROM scores
    ORDER BY score_milli_mean DESC, doc_id
    LIMIT 100
    """


def sql_text_fingerprint(d: str) -> str:
    """Document fingerprinting: md5 content hash + 16-bit simhash over
    token hashes (near-dup sketch)."""
    codes = pt.token_codes("text", d)
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents)
    SELECT doc_id, md5(lower(text)) AS content_fp, {pt.simhash16_expr('codes', d)} AS simhash16
    FROM documents JOIN c USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Deduplication (documents table)
# ---------------------------------------------------------------------------


def sql_text_winnow(d: str) -> str:
    """Winnowing fingerprints (the rolling-hash document fingerprint
    of MOSS/Schleimer et al.): slide a window of W=4 over the token
    hash sequence, keep each window's MIN hash, emit the DISTINCT
    selected fingerprints per doc. Guarantees any shared run of W
    consecutive tokens between two docs shares a fingerprint —
    the contains-style near-dup detector that pairs with MinHash's
    resemblance detector. All-expression SQL (sequence/transform/
    array_min), identical in both dialects.

    The candidate-pair consumer (``text_winnow_pairs``) joins docs on
    shared fingerprints with a document-frequency cap applied BEFORE
    the join — see :func:`sql_text_winnow_pairs`."""
    codes = pt.token_codes("text", d)
    w = 4
    if d == SPARK:
        windows = (
            f"transform(sequence(1, greatest(size(codes) - {w - 1}, 1)), "
            f"i -> array_min(slice(codes, i, {w})))"
        )
    else:
        windows = (
            f"list_transform(generate_series(1, greatest(len(codes) - {w - 1}, 1)), "
            f"i -> list_min(list_slice(codes, i, i + {w - 1})))"
        )
    explode = "explode" if d == SPARK else "unnest"
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    w AS (SELECT doc_id, {windows} AS fps FROM c)
    SELECT DISTINCT doc_id, {explode}(fps) AS fingerprint
    FROM w
    """


def sql_text_winnow_pairs(d: str) -> str:
    """The winnowing candidate-pair CONSUMER (the stage text_winnow's
    docstring documented but round 2 did not implement): join docs on
    shared selected fingerprints, score by shared-fp count and
    containment (shared / smaller doc's fp set).

    The scale-critical piece is the document-frequency cap BEFORE the
    join: a fingerprint appearing in > F docs (boilerplate runs —
    headers, footers, license blocks) contributes C(df,2) pairs, so
    hot fps degenerate the self-join toward all-pairs. The window
    count + ``df <= F`` filter bounds every fingerprint's contribution
    to C(F,2); the join is then a plain equi-join on fingerprint with
    constant worst-case blow-up. At lake scale the df count is a
    groupBy aggregate on the (already materialized) fingerprint table
    and the cap drops the hot keys before any shuffle of doc ids."""
    winnow = sql_text_winnow(d)
    cap = 20
    return f"""
    WITH w AS ({winnow}),
    f AS (
        SELECT doc_id, fingerprint FROM (
            SELECT doc_id, fingerprint,
                   count(*) OVER (PARTITION BY fingerprint) AS df
            FROM w
        ) t WHERE df <= {cap}
    ),
    n AS (SELECT doc_id, count(*) AS n_fp FROM f GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS shared_fps,
           round(cast(count(*) AS double) /
                 least(min(na.n_fp), min(nb.n_fp)), 4) AS containment
    FROM f a
    JOIN f b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    JOIN n na ON na.doc_id = a.doc_id
    JOIN n nb ON nb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


def sql_text_dup_ngrams(d: str) -> str:
    """Cross-document duplicated-n-gram fraction (the RefinedWeb /
    SlimPajama curation signal): for each doc, the share of its
    distinct 5-gram shingles that also occur in at least one OTHER
    document. High dup_frac = boilerplate / templated / syndicated
    text, the docs a pretraining mix down-weights even when no single
    pair crosses a near-dup threshold.

    Shape: one explode of per-doc DISTINCT shingles (within-doc
    repetition must not inflate document frequency), one groupBy
    shuffle on the shingle code for df, one equi-join back, one
    groupBy on doc_id. At lake scale the df table is the same
    materialized shingle projection every other sketch reads
    (PLANS.md CollapseProject rule)."""
    codes = pt.arr_distinct(pt.shingle_codes("text", d, n=5), d)
    explode = "explode" if d == SPARK else "unnest"
    return f"""
    WITH s AS (SELECT doc_id, {explode}({codes}) AS sh FROM documents),
    df AS (SELECT sh, count(*) AS df FROM s GROUP BY sh)
    SELECT s.doc_id,
           count(*) AS n_shingles,
           cast(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup_shingles,
           round(cast(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS double)
                 / count(*), 4) AS dup_frac
    FROM s JOIN df ON s.sh = df.sh
    GROUP BY s.doc_id
    """


def sql_sketch_kmv_distinct(d: str) -> str:
    """K-minimum-values distinct sketch (Bar-Yossef et al.) — the
    PORTABLE cardinality sketch: both engines ship HLL
    (approx_count_distinct) but with different internals, so their
    estimates can never hash-match across engines; KMV over the
    md5-derived 60-bit hash is pure order statistics and therefore
    bit-identical. Estimate = (k−1) / (kth_min / P) over the shingle hash space [0, P). One
    combinable aggregate at any scale (executors keep local k-min
    heaps; merge keeps the global k smallest). Emitted alongside the
    exact distinct count so the gate also pins estimator quality."""
    k = 64
    explode = "explode" if d == SPARK else "unnest"
    # 3-gram shingles: the synthetic corpus has only ~31 distinct
    # TOKENS (estimator would never engage); shingle cardinality is
    # in the thousands, so the (k−1)/kth-min path actually runs
    sh = pt.shingle_codes("text", d)
    return f"""
    WITH t AS (SELECT {explode}({sh}) AS hv0 FROM documents),
    h AS (SELECT DISTINCT CAST(hv0 AS BIGINT) AS hv FROM t),
    ranked AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM h),
    kth AS (SELECT max(hv) AS kth_min, count(*) AS n_in_k FROM ranked WHERE r <= {k})
    SELECT {k} AS k,
           kth.kth_min,
           (SELECT count(*) FROM h) AS exact_distinct,
           CASE WHEN kth.n_in_k < {k} THEN kth.n_in_k
                ELSE CAST(round(({k} - 1) / (cast(kth.kth_min AS double)
                     / {pt.P}.0)) AS BIGINT) END AS kmv_estimate
    FROM kth
    """


def sql_corpus_sample_stratified(d: str) -> str:
    """Deterministic stratified Bernoulli sampling — the training-mix
    op (e.g. downsample boilerplate-heavy languages): keep a doc iff
    its md5 hash falls under the PER-LANGUAGE rate threshold. Hash
    thresholds, not rand(): the sample is reproducible on any
    executor, any partitioning, any engine — rerunning the job
    selects the SAME documents (the property that makes epoch mixes
    auditable). Pure scan + filter: no shuffle at all until the
    per-lang audit count."""
    hv = pt.hex15("cast(doc_id as string)", d)
    # rates over the 60-bit hash space; integer thresholds → exact
    full = 1 << 60
    rates = {"en": 0.75, "de": 0.5, "fr": 0.5, "es": 0.25}
    cases = " ".join(
        f"WHEN lang = '{lg}' THEN {int(r * full)}" for lg, r in rates.items()
    )
    return f"""
    WITH s AS (
        SELECT doc_id, lang, {hv} AS hv,
               CASE {cases} ELSE {int(0.1 * full)} END AS threshold
        FROM documents
    )
    SELECT lang,
           count(*) AS n_sampled,
           min(doc_id) AS first_doc,
           CAST(sum(CASE WHEN hv % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_hash
    FROM s WHERE hv < threshold
    GROUP BY lang
    """


def _bm25_t_sql(d: str) -> str:
    """The (doc_id, dl, tf-per-term) projection both the stats
    aggregate and the scoring scan read."""
    terms = ("spark", "join", "window")
    toks = pt.tokens("text", d)
    tf_cols = ", ".join(
        "{expr} AS tf{i}".format(
            expr=pt.arr_size(pt.arr_filter("w", "x -> x = '%s'" % t, d), d), i=i
        )
        for i, t in enumerate(terms)
    )
    return (
        f"SELECT doc_id, {pt.arr_size('w', d)} AS dl, {tf_cols} "
        f"FROM (SELECT doc_id, {toks} AS w FROM documents) raw_t"
    )


def sql_text_bm25(d: str, t_source: str | None = None) -> str:
    """BM25-shaped ranked retrieval over the corpus (k1=1.2, b=0.75)
    for a fixed 3-term query — the curation/search primitive a
    training-data pipeline uses for targeted sampling ("find docs
    about X") and eval-set mining.

    Exactness construction: the textbook formula's ln() IDF is
    transcendental (engines differ in final ulps), so the IDF keeps
    the Robertson ratio (N − df + 0.5)/(df + 0.5) WITHOUT the log,
    scaled to integer thousandths; the tf saturation term
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) is multiplied through
    by 10·Σdl so numerator and denominator are exact int64
    (22·tf·A over 10·A·tf + 3·A + 9·dl·N). One integer division per
    term, integer sum across terms — bit-identical in both engines.
    Monotonicity in tf/df/dl matches BM25; absolute values are the
    documented rational-IDF variant. Int64 headroom: max term
    product ≈ 2N·10³ · 22·tf · A ≲ 10^18 at sf1.

    Plan shape: one corpus scan computes (dl, tf per term); the
    1-row corpus stats aggregate broadcasts back (BroadcastNestedLoop
    on a literal-true condition over one row); top-k is a global
    TakeOrderedAndProject with a doc_id tie-break — no full sort at
    scale. At 10^12 docs the stats row is a precomputed table and
    the per-term tf comes off an inverted index/bucketed term table;
    the scoring arithmetic is unchanged."""
    terms = ("spark", "join", "window")
    idiv = "div" if d == SPARK else "//"
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    per_term = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"(((2 * (n - df{i}) + 1) * 1000) {idiv} (2 * df{i} + 1))"
        f" * (22 * tf{i} * a) {idiv} (10 * a * tf{i} + 3 * a + 9 * dl * n)"
        f" ELSE 0 END)"
        for i in range(len(terms))
    )
    t_body = _bm25_t_sql(d) if t_source is None else f"SELECT * FROM {t_source}"
    return f"""
    WITH t AS ({t_body}),
    stats AS (
        SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS a, {df_cols} FROM t
    )
    SELECT doc_id, dl, tf0, tf1, tf2,
           {per_term} AS score_milli
    FROM t CROSS JOIN stats
    WHERE tf0 + tf1 + tf2 > 0
    ORDER BY score_milli DESC, doc_id
    LIMIT 50
    """


def _tfidf_tf_sql(d: str) -> str:
    toks = pt.tokens("text", d)
    explode = "explode" if d == SPARK else "unnest"
    return (
        f"SELECT doc_id, term, count(*) AS tf "
        f"FROM (SELECT doc_id, {explode}({toks}) AS term FROM documents) x "
        f"GROUP BY doc_id, term"
    )


def sql_text_tfidf_terms(d: str, tf_source: str | None = None) -> str:
    """Per-document top-3 keywords by tf·idf — the curation/labeling
    primitive (topic tagging, cluster naming, targeted sampling) next
    to text_bm25's query-side ranking. Same log-free integer IDF
    (Robertson ratio scaled to thousandths) so both engines agree
    bit-for-bit; score = tf · idf_s needs no division at all.

    Shape: explode tokens → per-(doc, term) count (ONE shuffle,
    map-side combinable) → df over the term table (the inverted-index
    degree table a lake materializes anyway) → equi-join back →
    per-doc row_number window (WindowGroupLimit prunes below top-3).
    Ties break (score desc, term asc) — fully deterministic."""
    toks = pt.tokens("text", d)
    explode = "explode" if d == SPARK else "unnest"
    idiv = "div" if d == SPARK else "//"
    tf_body = _tfidf_tf_sql(d) if tf_source is None else f"SELECT * FROM {tf_source}"
    return f"""
    WITH tf AS ({tf_body}),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nn AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               (((2 * (n - df) + 1) * 1000) {idiv} (2 * df + 1)) * tf.tf AS score_milli
        FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN nn
    ),
    ranked AS (
        SELECT doc_id, term, tf, score_milli,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score_milli DESC, term
               ) AS rk
        FROM scored
    )
    SELECT doc_id, rk, term, tf, score_milli
    FROM ranked WHERE rk <= 3
    """


def sql_text_inverted_postings(d: str) -> str:
    """Build the INVERTED INDEX itself — the materialization BM25 /
    tf·idf read at serve time: per term, document frequency, total
    term frequency, and the top-8 postings serialized as
    ``doc:tf,...`` in (tf desc, doc_id) order. Deterministic
    serialization matters: Spark's collect_list order is
    partition-dependent, so postings sort by an explicit rank struct
    before joining (DuckDB's ORDER BY inside string_agg is the
    mirror). Restricted to df ≥ 10 terms (the index head — the long
    tail ships in shards at scale); one explode shuffle + one term
    window + one agg."""
    toks = pt.tokens("text", d)
    explode = "explode" if d == SPARK else "unnest"
    if d == SPARK:
        postings = (
            "array_join(transform(array_sort(collect_list(struct(rk, doc_id, tf))), "
            "x -> concat(cast(x.doc_id AS string), ':', cast(x.tf AS string))), ',')"
        )
    else:
        postings = (
            "string_agg(cast(doc_id AS varchar) || ':' || cast(tf AS varchar), ',' ORDER BY rk)"
        )
    return f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, {explode}({toks}) AS term FROM documents) x
        GROUP BY doc_id, term
    ),
    stats AS (
        SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        FROM tf GROUP BY term HAVING count(*) >= 10
    ),
    ranked AS (
        SELECT tf.term, tf.doc_id, tf.tf,
               row_number() OVER (
                   PARTITION BY tf.term ORDER BY tf.tf DESC, tf.doc_id
               ) AS rk
        FROM tf JOIN stats ON tf.term = stats.term
    ),
    top AS (
        SELECT term, {postings} AS postings
        FROM ranked WHERE rk <= 8 GROUP BY term
    )
    SELECT s.term, s.df, s.total_tf, t.postings
    FROM stats s JOIN top t ON s.term = t.term
    """


def sql_dedup_threshold_sweep(d: str) -> str:
    """Near-dup THRESHOLD dial receipt: for Jaccard thresholds
    0.70 / 0.80 / 0.90, how many LSH candidate pairs verify and how
    many distinct docs are touched — what a pipeline owner reads
    before moving the drop_near_dups threshold (the prune's
    aggressiveness curve, measured on the real corpus, not assumed).
    ONE candidate generation + ONE exact intersect per pair; each
    threshold is a pure integer comparison (100·inter >= pct·union)
    over the same verified projection — no re-join per threshold."""
    codes = pt.token_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {band} AS band_id, {pt.band_key_expr('codes', band, d)} AS band_key FROM c"
        for band in range(n_bands)
    )
    tset = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        "size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    na = pt.arr_size("a.ts", d)
    nb = pt.arr_size("b.ts", d)
    per_t = []
    for pct in (70, 80, 90):
        per_t.append(f"""
    SELECT {pct} AS thresh_pct,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM scored
             WHERE 100 * inter >= {pct} * uni) AS n_verified_pairs,
           (SELECT CAST(count(DISTINCT doc) AS BIGINT) FROM (
               SELECT doc_a AS doc FROM scored WHERE 100 * inter >= {pct} * uni
               UNION ALL
               SELECT doc_b AS doc FROM scored WHERE 100 * inter >= {pct} * uni
           ) u{pct}) AS n_docs_affected""")
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    ),
    ts AS (SELECT doc_id, {tset} AS ts FROM documents),
    scored AS (
        SELECT p.doc_a, p.doc_b, {inter} AS inter,
               {na} + {nb} - {inter} AS uni
        FROM cand p
        JOIN ts a ON a.doc_id = p.doc_a
        JOIN ts b ON b.doc_id = p.doc_b
    )
    {" UNION ALL ".join(per_t)}
    """


def sql_dedup_lsh_recall(d: str) -> str:
    """MEASURE the MinHash-LSH candidate generator against exact
    ground truth — the receipt a production dedup pipeline keeps for
    its probabilistic stage: ground truth = all pairs with token-set
    Jaccard ≥ 0.8 (the lang-blocked exactness baseline), candidates =
    the band-bucket pairs. Emits found/missed/extra counts per
    language block plus the corpus totals row (lang = '*'). Recall
    gaps here quantify exactly what the 16-sig/4-band parameters
    trade away; precision gaps are what the Jaccard-verify stage
    (drop_near_dups) filters back out."""
    ts = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        "size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    bands = sql_dedup_minhash_bands(d)
    return f"""
    WITH s AS (SELECT doc_id, lang, {ts} AS ts FROM documents),
    truth AS (
        SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE cast({inter} AS double)
              / ({pt.arr_size('a.ts', d)} + {pt.arr_size('b.ts', d)} - {inter}) >= 0.8
    ),
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    joined AS (
        SELECT coalesce(t.lang, '*') AS lang,
               CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found,
               CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NULL THEN 1 ELSE 0 END AS missed,
               CASE WHEN t.doc_a IS NULL THEN 1 ELSE 0 END AS extra
        FROM truth t
        FULL OUTER JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    per_lang AS (
        SELECT lang,
               CAST(sum(found) AS BIGINT) AS n_found,
               CAST(sum(missed) AS BIGINT) AS n_missed,
               CAST(sum(extra) AS BIGINT) AS n_extra
        FROM joined WHERE lang <> '*'
        GROUP BY lang
    ),
    total AS (
        SELECT '*' AS lang,
               CAST(sum(found) AS BIGINT) AS n_found,
               CAST(sum(missed) AS BIGINT) AS n_missed,
               CAST(sum(extra) AS BIGINT) AS n_extra
        FROM joined
    )
    SELECT lang, n_found, n_missed, n_extra,
           round(cast(n_found AS double) / nullif(n_found + n_missed, 0), 4) AS recall
    FROM (SELECT * FROM per_lang UNION ALL SELECT * FROM total) u
    """


def sql_corpus_pack_sequences(d: str) -> str:
    """GPT-style sequence PACKING plan: documents concatenate in a
    canonical order into fixed L=2048-token training sequences,
    straddling boundaries (the standard pretraining layout — no
    padding waste). Emits each doc's byte-position in the packed
    stream: start offset, first/last sequence id, and whether it
    straddles a boundary. Pure window-cumsum integer math — ONE sort
    by the canonical key; at lake scale this is the final
    shard-writer's manifest computation (ordering by doc_id keeps it
    reproducible across runs/partitionings)."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    idiv = "div" if d == SPARK else "//"
    seq_len = 2048
    return f"""
    WITH t AS (SELECT doc_id, {n} AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   - n_tokens AS start_off
        FROM t
    )
    SELECT doc_id, n_tokens, start_off,
           start_off {idiv} {seq_len} AS seq_first,
           (start_off + n_tokens - 1) {idiv} {seq_len} AS seq_last,
           start_off {idiv} {seq_len} <> (start_off + n_tokens - 1) {idiv} {seq_len}
               AS straddles
    FROM c
    """


def sql_corpus_mix_unimax(d: str) -> str:
    """UniMax mixture allocation (Chung et al. 2023, arXiv:2304.09151):
    spread the token budget as EQUALLY as possible across languages,
    but cap every language at one epoch of its corpus — the fairness
    fix for proportional mixing (sql_corpus_mix_allocation), which
    lets head languages swamp the mix and over-epochs the tail.

    Waterfilling in closed form (no iteration): sort langs by cap
    ascending; lang i is CAPPED iff cap_i · (langs left) ≤ budget −
    (caps already granted) — the capped set is provably a prefix of
    that order (if the equal share already exceeds your cap, it
    exceeds every later lang's too). The uncapped remainder splits
    the leftover equally, ties broken by lang for the odd tokens.
    All integer; budget = 90% of one corpus epoch with one-epoch
    caps, so tail languages cap out while the head splits the
    leftover (both branches exercised), and budget < Σcaps
    structurally guarantees an uncapped lang exists (no zero-divisor
    edge). One aggregate + tiny windows over the 5-row lang table —
    the same cost class as the proportional mix."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    idiv = "div" if d == SPARK else "//"
    return f"""
    WITH lt AS (
        SELECT lang, CAST(sum({n}) AS BIGINT) AS lang_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(lang_tokens) AS BIGINT) AS total,
               (9 * CAST(sum(lang_tokens) AS BIGINT)) {idiv} 10 AS budget,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM lt
    ),
    ord AS (
        SELECT lang, lang_tokens, lang_tokens AS cap, budget, n_langs,
               row_number() OVER (ORDER BY lang_tokens, lang) AS i,
               coalesce(CAST(sum(lang_tokens) OVER (
                   ORDER BY lang_tokens, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) AS pre
        FROM lt CROSS JOIN tot
    ),
    flagged AS (
        SELECT *,
               CASE WHEN cap * (n_langs - i + 1) <= budget - pre
                    THEN 1 ELSE 0 END AS capped
        FROM ord
    ),
    stats AS (
        SELECT CAST(sum(capped) AS BIGINT) AS k,
               CAST(sum(cap * capped) AS BIGINT) AS s_capped
        FROM flagged
    ),
    alloc AS (
        SELECT f.lang, f.lang_tokens, f.cap, f.capped,
               (f.budget - st.s_capped) AS leftover,
               (f.n_langs - st.k) AS m,
               CASE WHEN f.capped = 1 THEN CAST(0 AS BIGINT)
                    ELSE row_number() OVER (
                        PARTITION BY f.capped ORDER BY f.lang
                    ) END AS ur
        FROM flagged f CROSS JOIN stats st
    )
    SELECT lang, lang_tokens, capped,
           CASE WHEN capped = 1 THEN cap
                WHEN ur <= leftover % m THEN leftover {idiv} m + 1
                ELSE leftover {idiv} m END AS alloc_tokens
    FROM alloc
    """


def sql_corpus_mix_allocation(d: str) -> str:
    """Training-mix token BUDGETING with largest-remainder rounding:
    allocate a 1,000,000-token budget across languages proportionally
    to their corpus token counts, exactly (allocations sum to the
    budget bit-for-bit — naive floor allocation under-spends and
    float shares drift across engines). floor share = budget·n_lang
    div n_total; the leftover goes to the largest remainders
    (budget·n_lang mod n_total), ties by lang. One aggregate + one
    1-row broadcast + one tiny window — the mixture-weights step
    every pretraining data pipeline runs."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    idiv = "div" if d == SPARK else "//"
    budget = 1_000_000
    return f"""
    WITH lt AS (
        SELECT lang, CAST(sum({n}) AS BIGINT) AS lang_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total FROM lt),
    base AS (
        SELECT lang, lang_tokens,
               ({budget} * lang_tokens) {idiv} total AS floor_alloc,
               ({budget} * lang_tokens) % total AS remainder,
               {budget} - CAST(sum(({budget} * lang_tokens) {idiv} total)
                   OVER () AS BIGINT) AS leftover
        FROM lt CROSS JOIN tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, lang) AS rk
        FROM base
    )
    SELECT lang, lang_tokens, floor_alloc,
           floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens
    FROM ranked
    """


def sql_corpus_shuffle_shards(d: str) -> str:
    """Deterministic GLOBAL SHUFFLE + shard manifest — the data-order
    randomization every pretraining run performs before packing:
    each doc gets a seeded pseudo-random rank (portable md5-derived —
    engine-native hash() functions differ across engines), lands in
    ``rank % 16`` shards, and receives its position and running token
    offset WITHIN its shard. Reproducible across runs/partitionings
    (rank is a pure function of doc_id + seed literal), which is what
    makes a training run resumable mid-epoch.

    Scale shape: the windows are PARTITION BY shard_id — parallel
    over shards, no global exchange; at the lake shard count is set
    so docs-per-shard fits one task (e.g. 64k shards for 10^12 docs),
    and the per-shard cumsum can reuse the same two-phase prefix-sum
    pattern as corpus_pack_sequences if shards must be huge."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    rank = pt.hex15("concat('shuf42:', cast(doc_id AS string))", d)
    return f"""
    WITH r AS (
        SELECT doc_id, CAST({n} AS BIGINT) AS n_tokens,
               {rank} % {pt.P} AS rk
        FROM documents
    )
    SELECT doc_id, n_tokens, rk % 16 AS shard_id,
           row_number() OVER (PARTITION BY rk % 16 ORDER BY rk, doc_id)
               AS pos_in_shard,
           CAST(sum(n_tokens) OVER (PARTITION BY rk % 16 ORDER BY rk, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS shard_tok_off
    FROM r
    """


def sql_text_dup_run_lengths(d: str) -> str:
    """Multi-resolution duplicated-RUN detection via binary lifting —
    the step from K-gram seeding toward Lee et al.'s arbitrary-length
    suffix-array matches, done relationally: level-L fingerprints are
    built from level-L/2 fingerprints (h_2L(i) = H(h_L(i), h_L(i+L)),
    the sparse-table doubling trick), so a doc's 8/16/32/64/128-token
    windows all fingerprint in ONE array pipeline per doc — no
    re-tokenization per level, no joins to build levels. Each level's
    fingerprints then get a cross-doc df, and a window is a duplicated
    RUN iff its fingerprint occurs in >1 doc.

    Per doc: ``max_dup_run_pow2`` = largest L with a duplicated
    L-window (a shared run of EXACTLY that contiguous extent exists;
    the true maximal shared run is in [L, 2L) — two overlapping
    duplicated halves from DIFFERENT partner docs do not compose, so
    pow2 levels are the sound pair-free resolution), plus the
    duplicated-seed count at the base level. Same md5-derived
    fingerprints as the rest of the dedup family (engine-portable;
    collision probability ~2^-60 per pair, the family-wide caveat).

    Scale shape: one corpus scan builds all levels (array exprs,
    whole-stage codegen), one explode (~5 rows per token position at
    the level fan-out), one df shuffle on (lvl, h), one broadcast-back
    join — the same materialized-shingle pattern as minhash/spans."""
    toks = pt.tokens("text", d)
    k = 8
    levels = [8, 16, 32, 64, 128]
    if d == SPARK:
        gram = f"concat_ws(' ', slice(w, i, {k}))"
        base = (
            f"CASE WHEN size(w) >= {k} THEN transform(sequence(1, size(w) - {k - 1}), "
            f"i -> {pt.hex15(gram, d)} % {pt.P}) ELSE array() END"
        )

        def lift(prev: str, half: int) -> str:
            comb = (
                f"concat(cast(element_at({prev}, i) AS string), ':', "
                f"cast(element_at({prev}, i + {half}) AS string))"
            )
            return (
                f"CASE WHEN size({prev}) > {half} THEN "
                f"transform(sequence(1, size({prev}) - {half}), "
                f"i -> {pt.hex15(comb, d)} % {pt.P}) ELSE array() END"
            )

        def tag(arr: str, lvl: int) -> str:
            return f"transform({arr}, x -> struct({lvl} AS lvl, x AS h))"

        all_arr = "concat(" + ", ".join(tag(f"a{lv}", lv) for lv in levels) + ")"
        explode_body = (
            f"SELECT doc_id, es.lvl AS lvl, es.h AS h "
            f"FROM lv LATERAL VIEW explode({all_arr}) ev AS es"
        )
    else:
        gram = f"list_aggregate(list_slice(w, i, i + {k - 1}), 'string_agg', ' ')"
        base = (
            f"CASE WHEN len(w) >= {k} THEN list_transform(generate_series(1, len(w) - {k - 1}), "
            f"i -> {pt.hex15(gram, d)} % {pt.P}) ELSE [] END"
        )

        def lift(prev: str, half: int) -> str:
            comb = (
                f"concat(cast({prev}[i] AS string), ':', "
                f"cast({prev}[i + {half}] AS string))"
            )
            return (
                f"CASE WHEN len({prev}) > {half} THEN "
                f"list_transform(generate_series(1, len({prev}) - {half}), "
                f"i -> {pt.hex15(comb, d)} % {pt.P}) ELSE [] END"
            )

        def tag(arr: str, lvl: int) -> str:
            return f"list_transform({arr}, x -> {{'lvl': {lvl}, 'h': x}})"

        all_arr = "(" + " || ".join(tag(f"a{lv}", lv) for lv in levels) + ")"
        explode_body = (
            "SELECT doc_id, u.lvl AS lvl, u.h AS h "
            f"FROM (SELECT doc_id, unnest({all_arr}) AS u FROM lv) xx"
        )
    level_ctes = [f"l8 AS (SELECT doc_id, {base} AS a8 FROM t)"]
    for prev, lv in zip(levels, levels[1:]):
        level_ctes.append(
            f"l{lv} AS (SELECT *, {lift(f'a{prev}', prev)} AS a{lv} FROM l{prev})"
        )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS w FROM documents),
    {", ".join(level_ctes)},
    lv AS (SELECT * FROM l{levels[-1]}),
    gr AS ({explode_body}),
    df AS (
        SELECT lvl, h, count(DISTINCT doc_id) AS nd
        FROM gr GROUP BY lvl, h
    ),
    marked AS (
        SELECT gr.doc_id, gr.lvl
        FROM gr JOIN df ON gr.lvl = df.lvl AND gr.h = df.h
        WHERE df.nd > 1
    ),
    agg AS (
        SELECT doc_id,
               CAST(max(lvl) AS BIGINT) AS max_dup_run_pow2,
               CAST(sum(CASE WHEN lvl = {k} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_seeds
        FROM marked GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.max_dup_run_pow2, 0) AS max_dup_run_pow2,
           coalesce(a.n_dup_seeds, 0) AS n_dup_seeds
    FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """


def sql_text_dedup_spans(d: str) -> str:
    """SPAN-level exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"; the SlimPajama /
    RefinedWeb curation step): REMOVE from every document the token
    spans whose K-gram (K=8 here) occurs in more than one document —
    doc-level dedup keeps boilerplate that rides inside otherwise-
    unique pages; this kills the shared spans themselves. The true
    Lee et al. construction uses suffix arrays for arbitrary-length
    matches; the K-gram-seeded variant is the standard distributed
    approximation (any duplicated run ≥ K tokens is covered by its
    K-gram seeds, so whole runs are removed; runs < K survive —
    documented recall bound).

    DuckDB dialect only — this is the oracle text; the registered
    Spark query is text_dedup_spans_query, which runs
    operators.textstats.remove_dup_spans.

    Fully relational: position-carrying K-gram hashes → cross-doc df → duplicated starts → MERGED cover intervals →
    covered token indexes (sequence explode over the merged ranges) →
    anti-join against the token-position table → ORDERED
    re-aggregation of the survivors. One shuffle for df, one for the
    re-aggregation; at lake scale the K-gram df table is the same
    materialized shingle projection the minhash family reads.

    The interval merge (VERDICT r4 item 7) is gaps-and-islands over
    the duplicated seed starts, windowed PARTITION BY doc — adjacent/
    overlapping [s, s+K) covers collapse into one range BEFORE the
    per-token explode, so boilerplate-heavy docs no longer emit K
    rows per duplicated seed position (up to K× fewer covered rows),
    and the merged ranges are disjoint by construction so the old
    DISTINCT shuffle disappears."""
    toks = pt.tokens("text", d)
    k = 8
    gram = f"list_aggregate(list_slice(w, i, i + {k - 1}), 'string_agg', ' ')"
    starts = (
        f"CASE WHEN len(w) >= {k} THEN list_transform(generate_series(1, len(w) - {k - 1}), "
        f"i -> {{'s': i, 'g': {pt.hex15(gram, d)} % {pt.P}}}) "
        f"ELSE [] END"
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS w FROM documents),
    g AS (SELECT doc_id, {starts} AS gs FROM t),
    gpos AS (SELECT doc_id, u.s AS s, u.g AS gh FROM (SELECT doc_id, unnest(gs) AS u FROM g) xx),
    dup AS (
        SELECT gh FROM gpos GROUP BY gh HAVING count(DISTINCT doc_id) > 1
    ),
    dstart AS (
        SELECT ds.doc_id, ds.s
        FROM gpos ds JOIN dup ON ds.gh = dup.gh
    ),
    isl AS (
        SELECT doc_id, s,
               CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) <= {k}
                    THEN 0 ELSE 1 END AS newgrp
        FROM dstart
    ),
    ranges AS (
        SELECT doc_id, min(s) AS rs, max(s) + {k - 1} AS re
        FROM (
            SELECT doc_id, s,
                   sum(newgrp) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM isl
        ) gi
        GROUP BY doc_id, grp
    ),
    covered AS (
        SELECT doc_id, unnest(generate_series(rs, re)) AS idx FROM ranges
    ),
    tokpos AS (
        SELECT doc_id, idx, w[idx] AS tok
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS idx FROM t) x
    ),
    kept AS (
        SELECT tp.doc_id, tp.idx, tp.tok
        FROM tokpos tp
        LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.idx = tp.idx
        WHERE c.idx IS NULL
    )
    SELECT t.doc_id,
           coalesce(k2.cleaned, '') AS cleaned_text,
           coalesce(k2.n_kept, 0) AS n_kept_tokens
    FROM t
    LEFT JOIN (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned, count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ) k2 ON k2.doc_id = t.doc_id
    """


def sql_dedup_exact(d: str) -> str:
    """Exact dedup via content-hash groupBy (map-side combinable; at
    scale this is a single shuffle on the 128-bit hash)."""
    return """
    SELECT md5(lower(text)) AS content_fp,
           min(doc_id) AS canonical_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY md5(lower(text))
    """


def sql_dedup_token_jaccard(d: str) -> str:
    """Near-dup pairs by token-set Jaccard within a language block —
    the EXACTNESS BASELINE, deliberately O(n²)-per-block: it is the
    ground truth dedup_lsh_recall measures the probabilistic pipeline
    against (recall 0.95 at the 16-sig/4-band point), never the path
    run at scale.

    Blocking on lang bounds the candidate set (at 100TB the block key
    would also include a length bucket / LSH band; see minhash below
    for the sub-quadratic path)."""
    ts = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        f"size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    return f"""
    WITH s AS (SELECT doc_id, lang, {ts} AS ts FROM documents)
    SELECT doc_a, doc_b, round(cast(inter as double) / (na + nb - inter), 4) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {inter} AS inter,
               {pt.arr_size('a.ts', d)} AS na,
               {pt.arr_size('b.ts', d)} AS nb
        FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) t
    WHERE cast(inter as double) / (na + nb - inter) >= 0.8
    """


def sql_dedup_minhash_bands(d: str) -> str:
    """MinHash signatures banded for LSH: one row per (doc, band).
    Classic shingle→minhash→band pipeline; the band_key is the
    bucket-join key that makes dedup sub-quadratic at scale.

    Spark side uses a single scan: the 16-signature vector in one
    projection, banded by a constant-sequence LATERAL VIEW explode
    (the UNION ALL formulation re-scanned the corpus once per band,
    8× in the self-join). The DuckDB oracle keeps the simpler
    UNION ALL; results are identical."""
    codes = pt.token_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS
    if d == SPARK:
        # signature vector computed in a projection BELOW a cheap
        # constant-sequence explode — an expensive expression in the
        # generator position (the former inline(array(<4 structs ×
        # 4 sigs>))) is re-evaluated per GENERATED row, 4× the md5
        # work per doc (see operators.dedup.minhash_bands)
        sigs = ", ".join(pt.minhash_sig_exprs("codes", d))
        return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    sv AS (SELECT doc_id, array({sigs}) AS sigv FROM c)
    SELECT doc_id, band_id,
           concat_ws('-', transform(slice(sigv, band_id * {pt.BAND_ROWS} + 1, {pt.BAND_ROWS}),
                                    x -> cast(x as string))) AS band_key
    FROM sv LATERAL VIEW explode(sequence(0, {n_bands - 1})) t AS band_id
    """
    selects = []
    for band in range(n_bands):
        key = pt.band_key_expr("codes", band, d)
        selects.append(f"SELECT doc_id, {band} AS band_id, {key} AS band_key FROM c")
    union = "\nUNION ALL\n".join(selects)
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents)
    {union}
    """


def sql_dedup_minhash_pairs(d: str) -> str:
    """Candidate duplicate pairs = docs sharing any LSH band bucket.
    The self-join is on (band_id, band_key) — a shuffle-key join, NOT
    a cross join, which is what survives 10^12 rows."""
    bands = sql_dedup_minhash_bands(d)
    return f"""
    WITH bands AS ({bands})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


def sql_dedup_shingle_minhash(d: str) -> str:
    """The canonical near-dup pipeline end-to-end:
    word-3-gram shingles → minhash → LSH bands → bucket equi-join →
    exact shingle-Jaccard verification of the candidates.

    This is the form that survives 10^12 docs: candidate generation is
    an equi-join on (band_id, band_key); the O(|set| ) exact Jaccard
    runs only on candidate pairs. DuckDB dialect only — this is the
    oracle text (one UNION ALL branch per band); the registered Spark
    query is dedup_shingle_minhash_query, which composes the
    operators.dedup chain."""
    codes = pt.shingle_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS
    selects = [
        f"SELECT doc_id, {band} AS band_id, {pt.band_key_expr('codes', band, d)} AS band_key FROM c"
        for band in range(n_bands)
    ]
    bands_sql = "\nUNION ALL\n".join(selects)
    dist = pt.arr_distinct("codes", d)
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    s AS (SELECT doc_id, {dist} AS sh FROM c),
    bands AS ({bands_sql}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, round(cast(inter as double) / (na + nb - inter), 4) AS jaccard
    FROM (
        SELECT doc_a, doc_b, len(list_intersect(sa.sh, sb.sh)) AS inter, len(sa.sh) AS na, len(sb.sh) AS nb
        FROM cand
        JOIN s sa ON sa.doc_id = cand.doc_a
        JOIN s sb ON sb.doc_id = cand.doc_b
    ) v
    WHERE cast(inter as double) / (na + nb - inter) >= 0.7
    """


def sql_dedup_simhash(d: str) -> str:
    """SimHash near-dup candidates: equal 16-bit simhash = candidate
    group (Hamming-0 blocking; rotate-band variants extend this)."""
    codes = pt.token_codes("text", d)
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    s AS (SELECT doc_id, {pt.simhash16_expr('codes', d)} AS simhash16 FROM c)
    SELECT simhash16, min(doc_id) AS canonical_id, count(*) AS n_docs
    FROM s GROUP BY simhash16
    """


def sql_recog_bucket_keys(d: str) -> str:
    """G5 bucket assignment as ONE JVM-side projection over a crop
    table (recog_dataset.py:164-174 semantics, integer-exact): at
    10^12 crops this key is what you repartition/bucketBy on so each
    training batch reads a single bucket. Crop dims derive
    deterministically from document stats (the documents table stands
    in for the crop manifest)."""
    from .operators.bucketing import bucket_key_sql

    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    bw, tl = bucket_key_sql("h", "w", "text_len", "spark" if d == SPARK else "duck")
    return f"""
    WITH crops AS (
        SELECT doc_id,
               CAST(8 + doc_id % 56 AS BIGINT) AS h,
               CAST(8 + length(text) % 1024 AS BIGINT) AS w,
               CAST({n} AS BIGINT) AS text_len
        FROM documents
    )
    SELECT doc_id, h, w, text_len,
           CAST({bw} AS BIGINT) AS bucket_w,
           CAST({tl} AS BIGINT) AS bucket_len
    FROM crops
    """


def sql_dedup_simhash_hamming(d: str) -> str:
    """SimHash near-dup pairs within Hamming distance ≤ 2 — the
    rotate-band extension of Hamming-0 blocking, still equi-join
    shaped for 100TB.

    The 16-bit simhash splits into 4 bands of 4 bits. Any ≤2
    differing bits fall into at most 2 bands, so blocking on the hash
    with every PAIR of bands masked out (C(4,2)=6 keys per doc)
    guarantees each qualifying pair collides on at least one key;
    candidates are then verified with an exact popcount. 6 keys/doc =
    constant blow-up; the join is a bucket equi-join on
    (mask_id, masked_value), never all-pairs."""
    codes = pt.token_codes("text", d)
    band = lambda i: 0xF << (4 * i)  # noqa: E731
    masks = [
        (idx, 0xFFFF & ~(band(i) | band(j)))
        for idx, (i, j) in enumerate((i, j) for i in range(4) for j in range(i + 1, 4))
    ]
    mask_rows = ", ".join(f"({idx}, {m})" for idx, m in masks)
    xor = "(a.sh ^ b.sh)" if d == SPARK else "xor(a.sh, b.sh)"
    return f"""
    WITH c AS (SELECT doc_id, {codes} AS codes FROM documents),
    s AS (SELECT doc_id, {pt.simhash16_expr('codes', d)} AS sh FROM c),
    m (mask_id, mask) AS (VALUES {mask_rows}),
    k AS (
        SELECT doc_id, sh, mask_id, sh & mask AS bucket FROM s CROSS JOIN m
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count({xor}) AS INT) AS hamming
    FROM k a JOIN k b ON a.mask_id = b.mask_id AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id
    WHERE bit_count({xor}) <= 2
    """


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5


def sql_ann_topk(d: str) -> str:
    """Exact top-k inner-product search, brute force — the correctness
    baseline for ANN. Quantized int64 dot products ⇒ deterministic
    ranking (ties broken by neighbor id)."""
    q = pt.quantize_vec("embedding", d)
    dot = pt.int_dot("qs.qq", "e.q", d)
    return f"""
    WITH e AS (SELECT vec_id, {q} AS q FROM embeddings),
    qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < {_N_QUERIES})
    SELECT query_id, neighbor_id, dot, rnk
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        FROM (
            SELECT qs.query_id, e.vec_id AS neighbor_id, {dot} AS dot
            FROM qs CROSS JOIN e
            WHERE e.vec_id <> qs.query_id
        ) d0
    ) d1
    WHERE rnk <= {_TOP_K}
    """


def sql_ann_filtered_topk(d: str) -> str:
    """FILTERED vector search — the production ANN pattern (tenant /
    category / language constraints riding the similarity query): for
    each query vector, exact top-k inner product among only the
    corpus vectors sharing the query's ``label``. The metadata
    predicate lands INSIDE the candidate join (pre-filter, the
    vector-DB "filtered search" semantics), not as a post-filter that
    silently returns fewer than k. At lake scale the label equality
    becomes the partition/bucket key, so the filtered search reads
    one label shard instead of the full corpus."""
    q = pt.quantize_vec("embedding", d)
    dot = pt.int_dot("qs.qq", "e.q", d)
    return f"""
    WITH e AS (SELECT vec_id, label, {q} AS q FROM embeddings),
    qs AS (SELECT vec_id AS query_id, label, q AS qq FROM e WHERE vec_id < {_N_QUERIES})
    SELECT query_id, neighbor_id, dot, rnk
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        FROM (
            SELECT qs.query_id, e.vec_id AS neighbor_id, {dot} AS dot
            FROM qs JOIN e ON e.label = qs.label
            WHERE e.vec_id <> qs.query_id
        ) d0
    ) d1
    WHERE rnk <= {_TOP_K}
    """


def sql_dedup_embedding_cosine(d: str) -> str:
    """Embedding-cosine near-dup pairs with EXACT integer decision:
    cos(a,b) ≥ t  ⇔  dot > 0 ∧ dot²·10⁴ ≥ (t²·10⁴)·‖a‖²·‖b‖²,
    all in int64 on Q=1000-quantized vectors (coarser quantization
    keeps every product < 2^63; t=0.45 → t²·10⁴ = 2025). No floats
    anywhere ⇒ bit-identical across engines even at the threshold
    boundary. The O(n²) pair join is the exactness baseline; the
    LSH-bucketed path (ann_lsh_*) is the 100TB route. Unlike the
    token-Jaccard baseline (now an exact prefix-filtering join, see
    dedup_token_jaccard_query), cosine over arbitrary signed vectors
    admits no exact-complete prefix/length pruning — angular
    similarity is scale-invariant and candidate-complete filters
    (LSH) are probabilistic — so this ground truth is quadratic BY
    NECESSITY, kept small-N and run only to calibrate the
    probabilistic path."""
    q = pt.quantize_vec("embedding", d, q=1000)
    dot = pt.int_dot("a.q", "b.q", d)
    norm = pt.int_dot("q", "q", d)
    return f"""
    WITH e0 AS (SELECT vec_id, {q} AS q FROM embeddings),
    e AS (SELECT vec_id, q, {norm} AS nrm FROM e0)
    SELECT vec_a, vec_b, dot, nrm_a, nrm_b
    FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS dot,
               a.nrm AS nrm_a, b.nrm AS nrm_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) p
    WHERE dot > 0 AND dot * dot * 10000 >= 2025 * nrm_a * nrm_b
    """


_IVF_CENTERS = 32  # coarse cells: the vectors with vec_id < 32 (deterministic)


def sql_ann_ivf_topk(d: str) -> str:
    """IVF-style ANN: assign every vector to its nearest coarse center
    (exact int64 squared L2 against a deterministic center set), then
    search top-k only within the query's cell.

    At 10^12 rows the assignment is one broadcast-join pass, cells are
    written bucketed-by(cell), and probes prune to nprobe cells — this
    query is the single-probe case. All arithmetic exact ⇒
    bit-identical across engines (ties broken by center id)."""
    q = pt.quantize_vec("embedding", d)
    # squared L2 between bigint arrays — exact
    if d == SPARK:
        dist = "aggregate(zip_with(v.q, c.q, (x, y) -> (x - y) * (x - y)), cast(0 as bigint), (acc, t) -> acc + t)"
    else:
        dist = "list_sum(list_transform(list_zip(v.q, c.q), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    dot = pt.int_dot("qs.qq", "e.q", d)
    return f"""
    WITH e0 AS (SELECT vec_id, {q} AS q FROM embeddings),
    centers AS (SELECT vec_id AS cid, q FROM e0 WHERE vec_id < {_IVF_CENTERS}),
    assign AS (
        SELECT vec_id, cid AS cell
        FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM e0 v CROSS JOIN centers c
        ) a WHERE rn = 1
    ),
    e AS (SELECT e0.vec_id, e0.q, assign.cell FROM e0 JOIN assign ON e0.vec_id = assign.vec_id),
    qs AS (SELECT vec_id AS query_id, q AS qq, cell AS qcell FROM e WHERE vec_id < {_N_QUERIES})
    SELECT query_id, neighbor_id, dot, rnk
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        FROM (
            SELECT qs.query_id, e.vec_id AS neighbor_id, {dot} AS dot
            FROM qs JOIN e ON e.cell = qs.qcell
            WHERE e.vec_id <> qs.query_id
        ) d0
    ) d1
    WHERE rnk <= {_TOP_K}
    """


def sql_ann_ivf_nprobe2(d: str) -> str:
    """IVF ANN with nprobe=2: each query searches its TWO nearest
    coarse cells (recall knob of the IVF family). The probe set is
    2 rows per query, so the cell lookup stays a bucket equi-join —
    at 10^12 rows with bucketed-by(cell) storage this prunes to
    2/n_cells of the corpus per query. Exact int64 arithmetic ⇒
    bit-identical across engines."""
    q = pt.quantize_vec("embedding", d)
    if d == SPARK:
        dist = "aggregate(zip_with(v.q, c.q, (x, y) -> (x - y) * (x - y)), cast(0 as bigint), (acc, t) -> acc + t)"
    else:
        dist = "list_sum(list_transform(list_zip(v.q, c.q), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    dot = pt.int_dot("qp.qq", "e.q", d)
    return f"""
    WITH e0 AS (SELECT vec_id, {q} AS q FROM embeddings),
    centers AS (SELECT vec_id AS cid, q FROM e0 WHERE vec_id < {_IVF_CENTERS}),
    ranked AS (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
        FROM e0 v CROSS JOIN centers c
    ),
    assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
    e AS (SELECT e0.vec_id, e0.q, assign.cell FROM e0 JOIN assign ON e0.vec_id = assign.vec_id),
    qprobe AS (
        SELECT r.vec_id AS query_id, q0.q AS qq, r.cid AS probe_cell
        FROM ranked r JOIN e0 q0 ON r.vec_id = q0.vec_id
        WHERE r.vec_id < {_N_QUERIES} AND r.rn <= 2
    )
    SELECT query_id, neighbor_id, dot, rnk
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        FROM (
            SELECT qp.query_id, e.vec_id AS neighbor_id, {dot} AS dot
            FROM qprobe qp JOIN e ON e.cell = qp.probe_cell
            WHERE e.vec_id <> qp.query_id
        ) d0
    ) d1
    WHERE rnk <= {_TOP_K}
    """


def sql_ann_ivf_recall(d: str) -> str:
    """MEASURE the IVF approximate searchers against the exact top-k
    ground truth — the receipt a production vector pipeline keeps for
    its recall/nprobe dial (the ANN twin of dedup_lsh_recall). For
    each query and probe setting (nprobe=1, nprobe=2): how many of
    the true top-k (k = _TOP_K) the cell-pruned search returned
    (n_found), and how many rows it returned at all (n_returned,
    < k when the probed cells hold fewer than k candidates). The
    nprobe=2 row dominating the nprobe=1 row on n_found is the
    monotonicity a recall dial must show. Every (method, query) pair
    gets a row even when the probed cells return ZERO candidates
    (n_returned = n_found = 0) — dropping those rows would hide
    exactly the worst-recall queries from the receipt. All three
    searches are exact-integer ranked, so the counts are
    bit-identical across engines."""
    exact = sql_ann_topk(d)
    ivf1 = sql_ann_ivf_topk(d)
    ivf2 = sql_ann_ivf_nprobe2(d)
    return f"""
    WITH exact_tk AS ({exact}),
    ivf1 AS ({ivf1}),
    ivf2 AS ({ivf2}),
    m AS (
        SELECT 'ivf_nprobe1' AS method, query_id, neighbor_id FROM ivf1
        UNION ALL
        SELECT 'ivf_nprobe2' AS method, query_id, neighbor_id FROM ivf2
    ),
    agg AS (
        SELECT m.method, m.query_id,
               CAST(count(*) AS BIGINT) AS n_returned,
               CAST(count(e.neighbor_id) AS BIGINT) AS n_found
        FROM m LEFT JOIN exact_tk e
          ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
        GROUP BY m.method, m.query_id
    ),
    qm AS (
        SELECT mm.method, q.query_id
        FROM (SELECT DISTINCT query_id FROM exact_tk) q
        CROSS JOIN (
            SELECT 'ivf_nprobe1' AS method UNION ALL SELECT 'ivf_nprobe2'
        ) mm
    )
    SELECT qm.method, qm.query_id,
           coalesce(agg.n_returned, CAST(0 AS BIGINT)) AS n_returned,
           coalesce(agg.n_found, CAST(0 AS BIGINT)) AS n_found,
           {_TOP_K} AS n_truth
    FROM qm LEFT JOIN agg
      ON agg.method = qm.method AND agg.query_id = qm.query_id
    """


def _semantic_e_sql(d: str, source: str = "embeddings") -> str:
    """The shared (vec_id, q, nrm, cell) projection of
    sql_dedup_semantic: quantized vector, squared norm, and coarse
    cell = nearest deterministic center (vec_id < _IVF_CENTERS) by
    exact int64 L2 (ties to the lowest center id). ``source`` lets
    the Spark-side override read a spread view (the oracle renders
    the default)."""
    q = pt.quantize_vec("embedding", d, q=1000)
    if d == SPARK:
        dist = "aggregate(zip_with(v.q, c.q, (x, y) -> (x - y) * (x - y)), cast(0 as bigint), (acc, t) -> acc + t)"
    else:
        dist = "list_sum(list_transform(list_zip(v.q, c.q), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    norm = pt.int_dot("q", "q", d)
    return f"""
    WITH e0 AS (SELECT vec_id, {q} AS q FROM {source}),
    centers AS (SELECT vec_id AS cid, q FROM e0 WHERE vec_id < {_IVF_CENTERS}),
    assign AS (
        SELECT vec_id, cid AS cell
        FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM e0 v CROSS JOIN centers c
        ) a WHERE rn = 1
    )
    SELECT e0.vec_id, e0.q, {norm} AS nrm, assign.cell
    FROM e0 JOIN assign ON e0.vec_id = assign.vec_id
    """


def sql_dedup_semantic(d: str) -> str:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    look for near-duplicate pairs ONLY within a cluster, and drop
    every vector that has a sufficiently-similar predecessor in its
    cluster (the paper's upper-triangular-matrix drop, with the
    deterministic order = vec_id ascending here).

    This is the scale path that the labeled-O(n²)
    dedup_embedding_cosine ground truth exists to calibrate: at 10^12
    rows the cluster assignment is one broadcast join against a tiny
    center set, vectors are stored bucketed-by(cell), the pair join
    is a per-cell equi-join (quadratic only within a cell, and cell
    size is controlled by the number of centers), and the final drop
    is a semi-join on (cell, vec_id). Same exact-integer cosine
    decision as the baseline — cos(a,b) ≥ t ⇔ dot > 0 ∧
    dot²·10⁴ ≥ (t²·10⁴)·‖a‖²·‖b‖² on Q=1000-quantized vectors, t=0.3
    → 900 (a looser knob than the baseline's 0.45: the per-query
    dedup aggressiveness dial) — so the kept set is bit-identical
    across engines.
    Output: every vector with its cell and kept flag (kept = 0 iff a
    smaller-id vector in the same cell clears the threshold)."""
    dot = pt.int_dot("a.q", "b.q", d)
    e_body = _semantic_e_sql(d)
    return f"""
    WITH e AS ({e_body}),
    pairs AS (
        SELECT b.vec_id, {dot} AS dot, a.nrm AS nrm_a, b.nrm AS nrm_b
        FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT vec_id
        FROM pairs
        WHERE dot > 0 AND dot * dot * 10000 >= 900 * nrm_a * nrm_b
    )
    SELECT e.vec_id, e.cell,
           CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM e LEFT JOIN dropped ON e.vec_id = dropped.vec_id
    """


def sql_emb_cell_confusion(d: str) -> str:
    """Cluster-purity / label-confusion receipt over the embedding
    space: assign every vector to its coarse cell (the same 32
    deterministic centers and exact-int64 L2 assignment the SemDeDup
    path uses), classify each vector by the MAJORITY label of its
    cell with the vector's own vote removed (leave-one-out; ties →
    lowest label), and emit the (true_label, pred_label, n) confusion
    matrix — the "do my clusters respect my labels" receipt an
    embedding pipeline checks before trusting cell-local operations
    (SemDeDup, IVF probing) to respect class structure. Every step
    is integer counting — no mean/cosine division to diverge between
    engines; a vector alone in its cell predicts its own label (its
    zero-adjusted row is the only candidate)."""
    e_body = _semantic_e_sql(d)
    return f"""
    WITH e AS ({e_body}),
    lab AS (
        SELECT e.vec_id, emb.label, e.cell
        FROM e JOIN embeddings emb ON emb.vec_id = e.vec_id
    ),
    cellcnt AS (
        SELECT cell, label, CAST(count(*) AS BIGINT) AS n
        FROM lab GROUP BY cell, label
    ),
    scored AS (
        SELECT v.vec_id, v.label AS true_label, c.label AS cand_label,
               c.n - CASE WHEN c.label = v.label THEN 1 ELSE 0 END AS adj
        FROM lab v JOIN cellcnt c ON c.cell = v.cell
    ),
    pred AS (
        SELECT vec_id, true_label, cand_label AS pred_label
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY adj DESC, cand_label
            ) AS rk
            FROM scored
        ) p WHERE rk = 1
    )
    SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_vecs
    FROM pred GROUP BY true_label, pred_label
    """


def sql_emb_label_centroids(d: str) -> str:
    """Per-label embedding centroid sums — the class-prototype /
    cluster-seed computation of an embedding pipeline (centroids for
    IVF training, per-class means for probing). Emitted as exact
    int64 per-dimension sums of the quantized vectors (one row per
    label × dimension): dividing to a float mean would reintroduce
    cross-engine ulps, and every consumer (distance ranking, cell
    assignment) works on sums + counts unchanged. Dimension explode
    via a literal sequence cross join (both engines index arrays
    1-based); one shuffle on (label, dim)."""
    q = pt.quantize_vec("embedding", d)
    if d == SPARK:
        dims = f"SELECT explode(sequence(1, {pt.EMB_DIM})) AS dim"
        at = "element_at(e.q, dims.dim)"
    else:
        dims = f"SELECT unnest(generate_series(1, {pt.EMB_DIM})) AS dim"
        at = "e.q[dims.dim]"
    return f"""
    WITH e AS (SELECT vec_id, label, {q} AS q FROM embeddings),
    dims AS ({dims})
    SELECT e.label, dims.dim,
           cast(sum({at}) AS bigint) AS sum_q,
           count(*) AS n_vecs
    FROM e CROSS JOIN dims
    GROUP BY e.label, dims.dim
    """


def _pq_dialect(d: str):
    q = pt.quantize_vec("embedding", d)
    if d == SPARK:
        dims16 = "SELECT explode(sequence(1, 16)) AS dim"
        ms = "SELECT explode(sequence(0, 3)) AS m"
        js = "SELECT explode(sequence(0, 3)) AS j"
        at = "element_at(e.q, ms.m * 16 + dims.dim)"
    else:
        dims16 = "SELECT unnest(generate_series(1, 16)) AS dim"
        ms = "SELECT unnest(generate_series(0, 3)) AS m"
        js = "SELECT unnest(generate_series(0, 3)) AS j"
        at = "e.q[ms.m * 16 + dims.dim]"
    return q, dims16, ms, js, at


def _pq_subd_sql(d: str, source: str = "embeddings") -> str:
    """The (vec_id, m, dim, val) subvector table every PQ stage
    reads. ``source`` lets the Spark-side override read a spread
    view (the oracle renders the default)."""
    q, dims16, ms, _js, at = _pq_dialect(d)
    return (
        f"SELECT e.vec_id, ms.m, dims.dim, {at} AS val "
        f"FROM (SELECT vec_id, {q} AS q FROM {source}) e "
        f"CROSS JOIN ({ms}) ms CROSS JOIN ({dims16}) dims"
    )


def sql_ann_pq_topk(d: str, subd_source: str | None = None) -> str:
    """Product-quantization ANN — the third scale path next to LSH
    and IVF (Jégou et al., "Product Quantization for Nearest
    Neighbor Search"): vectors split into M=4 subspaces of 16 dims,
    each subspace quantized to K=4 centroids, queries scored by
    Asymmetric Distance Computation (query subvector → centroid
    lookup table, corpus vector → its 4 codes; distance = sum of 4
    table entries instead of a 64-dim scan). At lake scale the codes
    table is 4 BYTES per vector (16× smaller than the int8-quantized
    vector) and ADC reads the LUT, not the corpus — the memory-bound
    regime PQ exists for.

    Training is deterministic and EXACT-integer so both engines
    agree bit-for-bit: seeds = corpus subvectors at ids
    ((m·K+j)·37+11) mod N, one Lloyd refinement with integer-mean
    centroids (sum div count per dimension), squared-L2 assignment
    with (dist, j) tie-break. Centroids/subvectors live as
    (m, j, dim, val) ROWS (the emb_label_centroids explode pattern)
    so every step is a hash join + aggregate — no array re-collection
    (collect_list order is nondeterministic)."""
    q, dims16, ms, js, _at = _pq_dialect(d)
    idiv = "div" if d == SPARK else "//"
    subd_body = _pq_subd_sql(d) if subd_source is None else f"SELECT * FROM {subd_source}"
    return f"""
    WITH e AS (SELECT vec_id, {q} AS q FROM embeddings),
    nn AS (SELECT count(*) AS n FROM e),
    dims AS ({dims16}),
    ms AS ({ms}),
    js AS ({js}),
    subd AS ({subd_body}),
    seedids AS (
        SELECT ms.m, js.j, ((ms.m * 4 + js.j) * 37 + 11) % n AS sid
        FROM ms CROSS JOIN js CROSS JOIN nn
    ),
    seedd AS (
        SELECT s.m, s.j, sd.dim, sd.val AS cval
        FROM seedids s JOIN subd sd ON sd.vec_id = s.sid AND sd.m = s.m
    ),
    d1 AS (
        SELECT sd.vec_id, sd.m, c.j,
               sum((sd.val - c.cval) * (sd.val - c.cval)) AS dist
        FROM subd sd JOIN seedd c ON c.m = sd.m AND c.dim = sd.dim
        GROUP BY sd.vec_id, sd.m, c.j
    ),
    a1 AS (
        SELECT vec_id, m, j FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
            FROM d1
        ) t WHERE rn = 1
    ),
    centd AS (
        SELECT a1.m, a1.j, sd.dim,
               cast(sum(sd.val) AS bigint) {idiv} count(*) AS cval
        FROM a1 JOIN subd sd ON sd.vec_id = a1.vec_id AND sd.m = a1.m
        GROUP BY a1.m, a1.j, sd.dim
    ),
    d2 AS (
        SELECT sd.vec_id, sd.m, c.j,
               sum((sd.val - c.cval) * (sd.val - c.cval)) AS dist
        FROM subd sd JOIN centd c ON c.m = sd.m AND c.dim = sd.dim
        GROUP BY sd.vec_id, sd.m, c.j
    ),
    codes AS (
        SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
            FROM d2
        ) t WHERE rn = 1
    ),
    lutd AS (
        SELECT sd.vec_id AS query_id, sd.m, c.j,
               sum((sd.val - c.cval) * (sd.val - c.cval)) AS l2
        FROM subd sd JOIN centd c ON c.m = sd.m AND c.dim = sd.dim
        WHERE sd.vec_id < {_N_QUERIES}
        GROUP BY sd.vec_id, sd.m, c.j
    ),
    adc AS (
        SELECT l.query_id, co.vec_id AS neighbor_id,
               cast(sum(l.l2) AS bigint) AS adc_dist
        FROM codes co
        JOIN lutd l ON l.m = co.m AND l.j = co.code
        WHERE co.vec_id <> l.query_id
        GROUP BY l.query_id, co.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, rnk
    FROM (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_dist, neighbor_id
               ) AS rnk
        FROM adc
    ) final WHERE rnk <= {_TOP_K}
    """


def sql_ann_pq_recall(d: str) -> str:
    """MEASURE product quantization against the exact top-k ground
    truth — the ADC twin of sql_ann_ivf_recall (PQ is LOSSY by
    construction: 4 codes stand in for 64 dims, so its recall is the
    number a production pipeline must know before routing queries at
    it). Per query: how many of the exact top-k the ADC ranking
    recovered. Every query gets a row even if ADC returned nothing;
    all rankings are exact-integer, so the counts are bit-identical
    across engines.

    Measured at sf0.01: recall ~0.05 — deliberately honest. The
    ann_pq_topk codebook is K=4 centroids per subspace with one
    Lloyd round (sized so integer training is exact and
    engine-identical: it gates the ADC MECHANISM, not retrieval
    quality); 4^4 distinct codes cannot rank 64-dim random
    embeddings. Production PQ uses K=256 per subspace — this receipt
    is what tells you that before routing traffic at a too-coarse
    codebook."""
    exact = sql_ann_topk(d)
    pq = sql_ann_pq_topk(d)
    return f"""
    WITH exact_tk AS ({exact}),
    pq AS ({pq}),
    agg AS (
        SELECT p.query_id,
               CAST(count(*) AS BIGINT) AS n_returned,
               CAST(count(e.neighbor_id) AS BIGINT) AS n_found
        FROM pq p LEFT JOIN exact_tk e
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY p.query_id
    )
    SELECT q.query_id,
           coalesce(agg.n_returned, CAST(0 AS BIGINT)) AS n_returned,
           coalesce(agg.n_found, CAST(0 AS BIGINT)) AS n_found,
           {_TOP_K} AS n_truth
    FROM (SELECT DISTINCT query_id FROM exact_tk) q
    LEFT JOIN agg ON agg.query_id = q.query_id
    """


def sql_ann_lsh_buckets(d: str) -> str:
    """Random-hyperplane LSH bucketing of the embedding space — the
    scale path: bucket cardinalities stay bounded, so the within-bucket
    join is shuffle-key-local at 100TB."""
    q = pt.quantize_vec("embedding", d)
    return f"""
    WITH e AS (SELECT vec_id, label, {q} AS q FROM embeddings)
    SELECT vec_id, label, {pt.lsh_bucket_expr('q', d)} AS bucket FROM e
    """


def sql_ann_lsh_topk(d: str) -> str:
    """ANN top-k restricted to the query's LSH bucket (bucket-equi-join
    instead of cross join)."""
    q = pt.quantize_vec("embedding", d)
    dot = pt.int_dot("qs.qq", "e.q", d)
    return f"""
    WITH e0 AS (SELECT vec_id, {q} AS q FROM embeddings),
    e AS (SELECT vec_id, q, {pt.lsh_bucket_expr('q', d)} AS bucket FROM e0),
    qs AS (SELECT vec_id AS query_id, q AS qq, bucket AS qbucket FROM e WHERE vec_id < {_N_QUERIES})
    SELECT query_id, neighbor_id, dot, rnk
    FROM (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rnk
        FROM (
            SELECT qs.query_id, e.vec_id AS neighbor_id, {dot} AS dot
            FROM qs JOIN e ON e.bucket = qs.qbucket
            WHERE e.vec_id <> qs.query_id
        ) d0
    ) d1
    WHERE rnk <= {_TOP_K}
    """


# ---------------------------------------------------------------------------
# Relational shell (TPC-H-ish) — scan/filter/agg/join/window parity
# ---------------------------------------------------------------------------



def _rev2(sum_expr: str, d: str) -> str:
    """Exact 2-decimal money from a 10^-4-scaled integer sum.

    ``round(v/10000.0, 2)`` is engine-divergent at exact .xx50 ties
    (Spark rounds the shifted value, DuckDB the binary double —
    observed at sf0.1). Rounding half-up in INTEGER domain first, then
    one exact division, is bit-identical everywhere.

    The final CAST AS DOUBLE pins the OUTPUT TYPE: Spark parses the
    ``100.0`` literal as DECIMAL so ``bigint / 100.0`` yields a
    decimal column, while DuckDB yields double — numerically equal but
    the driver hashes Decimal != float (root cause of 7 of round 1's
    13 hash mismatches). Values are exact multiples of 0.01 well below
    2^53, so the double conversion is lossless."""
    div = "DIV" if d == SPARK else "//"
    return f"CAST(((({sum_expr}) + 50) {div} 100) / 100.0 AS DOUBLE)"

def sql_q1_pricing_summary(d: str) -> str:
    """Scan + filter + hash-aggregate (map-side combinable). Money math
    in exact cents so Spark/DuckDB sum order cannot diverge."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)))", d
    )
    return f"""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(cast(round(l_quantity * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(cast(round(l_extendedprice * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS sum_base_price,
           {rev} AS sum_disc_price,
           round(cast(sum(cast(round(l_quantity * 100) as bigint)) as double) / 100.0 / count(*), 4) AS avg_qty,
           round(cast(sum(cast(round(l_discount * 100) as bigint)) as double) / 100.0 / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


def sql_q5_region_revenue(d: str) -> str:
    """Multi-join star query: fact (lineitem) joined to orders and four
    dimensions — the dims are broadcast-sized at any SF."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)))", d
    )
    return f"""
    SELECT r_name, n_name,
           {rev} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= timestamp '1996-01-01 00:00:00'
    GROUP BY r_name, n_name
    """


def sql_q3_shipping_priority(d: str) -> str:
    """Join + agg + deterministic global top-k (sort operator
    coverage). Revenue in exact cents so ordering can't diverge;
    tie-break on the key."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)))", d
    )
    return f"""
    SELECT l_orderkey,
           {rev} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate < timestamp '1998-01-01 00:00:00'
      AND l_shipdate  > timestamp '1997-01-01 00:00:00'
    GROUP BY l_orderkey
    ORDER BY sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))) DESC, l_orderkey
    LIMIT 10
    """


def sql_q10_returned_items(d: str) -> str:
    """Returned-items rollup: selective fact filter + two joins + agg
    (Q10 shape)."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)))", d
    )
    return f"""
    SELECT c_custkey, c_name, n_name,
           {rev} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    """


def sql_q7_nation_volume(d: str) -> str:
    """Q7 shape: bidirectional two-nation trade volume by ship year —
    SIX joins (fact → supplier → orders → customer → nation×2) with a
    disjunctive cross-nation predicate. Join-order/broadcast coverage:
    every dim side is broadcast-sized at any SF (nation 25 rows,
    supplier/customer keyed subsets), so Catalyst should plan ONE
    shuffle-free broadcast chain over the fact scan; the year
    extraction and money math stay in exact integer domain."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)))", d
    )
    return f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           cast(year(l_shipdate) AS bigint) AS l_year,
           {rev} AS volume,
           count(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
       OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    GROUP BY n1.n_name, n2.n_name, cast(year(l_shipdate) AS bigint)
    """


def sql_q8_market_share(d: str) -> str:
    """Q8 shape: one nation's market share inside a region for one
    part type, by order year — SEVEN joins (fact → part → supplier →
    orders → customer → nation → region + the second nation dim for
    the supplier side) feeding a conditional-share aggregate. The
    share is a single double division of two exact integer sums
    (engine-order-proof), rounded once."""
    vol = "cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))"
    return f"""
    WITH all_sales AS (
        SELECT cast(year(o_orderdate) AS bigint) AS o_year,
               {vol} AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT o_year,
           round(cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS double)
                 / sum(volume), 6) AS mkt_share,
           count(*) AS n_items
    FROM all_sales
    GROUP BY o_year
    """


def sql_q9_product_profit(d: str) -> str:
    """Q9 shape: profit by supplier nation and order year over a
    part-name LIKE filter — fact → part (filter pushed into the
    build side) → supplier → nation → orders. No partsupp table in
    this corpus, so supply cost is proxied by p_retailprice; both
    profit terms land on the same 10^-4-dollar integer scale
    (price_cents × discount_percent and retail_cents × qty_cents),
    so the subtraction stays exact before the one _rev2 division."""
    profit = (
        "sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint)) "
        "- cast(round(p_retailprice * 100) as bigint) * cast(round(l_quantity * 100) as bigint))"
    )
    return f"""
    SELECT n_name AS nation,
           cast(year(o_orderdate) AS bigint) AS o_year,
           {_rev2(profit, d)} AS profit,
           count(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, cast(year(o_orderdate) AS bigint)
    """


def sql_q4_order_priority(d: str) -> str:
    """Q4 shape: EXISTS correlated subquery → Catalyst plans a LEFT
    SEMI join (lineitem probe side deduped by the semi semantics, no
    fact blow-up). Priority distribution of orders with at least one
    late-shipping line."""
    return """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= timestamp '1996-01-01 00:00:00'
      AND o_orderdate <  timestamp '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """


def sql_q13_customer_distribution(d: str) -> str:
    """Q13 shape: LEFT OUTER join + two-level aggregation — the
    orders-per-customer histogram including zero-order customers
    (the outer join's null side). First agg shuffles on c_custkey,
    second on the count value; both map-side combinable."""
    return """
    SELECT n_orders, count(*) AS n_custs
    FROM (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderstatus <> 'F'
        GROUP BY c_custkey
    ) per_cust
    GROUP BY n_orders
    """


def sql_q18_large_orders(d: str) -> str:
    """Q18 shape: IN over an aggregated subquery (HAVING above a
    threshold) → LEFT SEMI join against the grouped lineitem; the
    outer block re-joins customer + lineitem for the detail rows.
    Quantity math in exact integer centi-units."""
    return """
    SELECT c_name, o_orderkey,
           CAST(round(sum(cast(round(l_quantity * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(cast(round(l_quantity * 100) as bigint)) > 9000
    )
    GROUP BY c_name, o_orderkey
    """


def sql_q22_idle_customers(d: str) -> str:
    """Q22 shape: scalar subquery (average balance over a filtered
    scan, computed in exact integer cents with integer division — a
    double avg would diverge across engines in sum order) + NOT
    EXISTS → LEFT ANTI join to keep customers with no RECENT orders.
    Both subquery sides are broadcast-sized."""
    idiv = "div" if d == SPARK else "//"
    bal = "cast(round(c_acctbal * 100) as bigint)"
    return f"""
    SELECT c_mktsegment,
           count(*) AS n_custs,
           CAST(round(sum({bal}) / 100.0, 2) AS DOUBLE) AS total_bal
    FROM customer
    WHERE {bal} > (
        SELECT sum({bal}) {idiv} count(*) FROM customer WHERE {bal} > 0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= timestamp '2000-01-01 00:00:00'
    )
    GROUP BY c_mktsegment
    """


def sql_q6_forecast_revenue(d: str) -> str:
    """Q6 shape: pure scan + multi-predicate filter + single global
    aggregate — the predicate-pushdown showcase (every filter lands
    in PushedFilters; zero joins, zero group keys, one partial+final
    agg). Money math in exact 10^-4-dollar units."""
    rev = _rev2(
        "sum(cast(round(l_extendedprice * 100) as bigint) * cast(round(l_discount * 100) as bigint))",
        d,
    )
    return f"""
    SELECT {rev} AS revenue, count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
      AND l_shipdate <  timestamp '1997-01-01 00:00:00'
      AND l_discount >= 0.02 AND l_discount <= 0.09
      AND l_quantity < 24
    """


def sql_q14_promo_share(d: str) -> str:
    """Q14 shape: fact→part join feeding a conditional revenue share
    — the percentage is ONE double division of two exact integer
    sums, rounded once (engine-order-proof)."""
    vol = "cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))"
    return f"""
    SELECT round(100.0 * cast(sum(CASE WHEN p_type = 'PROMO' THEN {vol} ELSE 0 END) AS double)
                 / sum({vol}), 6) AS promo_share,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
      AND l_shipdate <  timestamp '1997-07-01 00:00:00'
    """


def sql_q2_top_supplier_balance(d: str) -> str:
    """Q2 shape: CORRELATED scalar subquery — per-nation max account
    balance drives the outer row filter. Catalyst rewrites the
    correlation into an aggregate + join (no per-row re-execution);
    balances compare in exact integer cents."""
    bal = "cast(round(s_acctbal * 100) as bigint)"
    bal2 = "cast(round(s2.s_acctbal * 100) as bigint)"
    return f"""
    SELECT n_name, s_name,
           CAST(round({bal} / 100.0, 2) AS DOUBLE) AS acctbal
    FROM supplier s
    JOIN nation ON s_nationkey = n_nationkey
    WHERE {bal} = (
        SELECT max({bal2}) FROM supplier s2
        WHERE s2.s_nationkey = s.s_nationkey
    )
    """


def sql_cube_order_mix(d: str) -> str:
    """CUBE grouping-sets coverage (rollup_returns pins ROLLUP): all
    four grouping combinations of (status, priority) in one pass —
    Spark plans one Expand + single aggregate. NULL grouping keys
    must hash identically across engines (pinned since r2)."""
    return """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(cast(round(o_totalprice * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """


def sql_rollup_returns(d: str) -> str:
    """Grouping-sets coverage: ROLLUP over (returnflag, linestatus)
    with subtotal and grand-total rows (NULL keys hash identically in
    both engines)."""
    return """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_lines,
           CAST(round(sum(cast(round(l_quantity * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """


def sql_set_ops_users(d: str) -> str:
    """Set-operation coverage: purchasers ∩ clickers, minus error-only
    users (INTERSECT / EXCEPT are first-class in both engines)."""
    return """
    SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'click' AND value > 150
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 190
    """


def sql_top_customers_window(d: str) -> str:
    """Window rank within partition + dimension join."""
    return """
    SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal, rnk
    FROM (
        SELECT n_name, c_name, c_acctbal,
               row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) t
    WHERE rnk <= 3
    """


def sql_supplier_part_volume(d: str) -> str:
    """Fact-to-two-dimensions join + agg (brand/supplier rollup)."""
    return """
    SELECT p_brand, s_name,
           CAST(round(sum(cast(round(l_quantity * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY p_brand, s_name
    """


# ---------------------------------------------------------------------------
# Events (stream-shaped table): sessionize + tumbling windows
# ---------------------------------------------------------------------------


def _us(col: str, d: str) -> str:
    # cast: parquet TIMESTAMP_NTZ → TIMESTAMP is the identity under the
    # engine's pinned UTC session timezone
    return f"unix_micros(cast({col} as timestamp))" if d == SPARK else f"epoch_us({col})"


def sql_events_sessionize(d: str) -> str:
    """Sessionization: 30-min inactivity gap splits sessions (lag +
    running sum — the batch formulation of the streaming session
    window). Timestamps emitted as epoch micros (engine-neutral)."""
    us = _us("ts", d)
    return f"""
    WITH x AS (
        SELECT user_id, event_id, {us} AS us,
               CASE WHEN lag({us}) OVER (PARTITION BY user_id ORDER BY {us}, event_id) IS NULL
                         OR {us} - lag({us}) OVER (PARTITION BY user_id ORDER BY {us}, event_id) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id, event_id, us,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM x
    )
    SELECT user_id, session_id, count(*) AS n_events, min(us) AS start_us, max(us) AS end_us
    FROM s GROUP BY user_id, session_id
    """


def sql_events_hourly(d: str) -> str:
    """Tumbling 1-hour window aggregate (batch twin of the structured-
    streaming windowed agg in streaming/)."""
    us = _us("date_trunc('hour', ts)", d)
    return f"""
    SELECT {us} AS hour_us, event_type,
           count(*) AS n_events,
           CAST(round(sum(cast(round(value * 100) as bigint)) / 100.0, 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """


def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window operator —
    same semantics as the lag/cumsum formulation (30-min gap), proving
    the built-in stateful operator against the portable SQL oracle.
    session_window.end = last event + gap, so subtract the gap to
    recover the last-event timestamp."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    events = spark.table("events")
    gap_us = 1_800_000_000
    out = (
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            (F.unix_micros(F.col("w.end")) - gap_us).alias("end_us"),
            "n_events",
        )
    )
    return out


def _oracle_session_window(d: str) -> str:
    """Same sessions via the portable lag/cumsum formulation."""
    base = sql_events_sessionize(DUCK)
    return f"SELECT user_id, start_us, end_us, n_events FROM ({base}) s"


def sql_events_asof_signup(d: str) -> str:
    """As-of join, portable union-window formulation: for every
    purchase, the user's most recent STRICTLY-PRIOR signup timestamp.
    One shuffle on the key; O(1) window state — the form that survives
    10^12 rows (pd.merge_asof per group is driver-bounded; range
    cross-joins explode)."""
    us = _us("ts", d)
    return f"""
    WITH t AS (
        SELECT event_id, user_id, event_type, {us} AS us,
               CASE WHEN event_type = 'signup' THEN {us} END AS signup_us
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, event_type, us,
               max(signup_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_us
        FROM t
    )
    SELECT event_id, user_id, us, last_signup_us
    FROM w WHERE event_type = 'purchase'
    """


def sql_events_retention(d: str) -> str:
    """Cohort retention: users grouped by first-seen day, counted per
    day-offset they return on — the engagement matrix every event
    pipeline materializes. Days via INTEGER division of epoch micros
    (Spark ``div`` / DuckDB ``//``): a float path diverges because
    DuckDB ROUNDS double→int casts while Spark truncates; timestamps
    are post-1970 so truncate-vs-floor is moot."""
    us = _us("ts", d)
    day = f"({us}) div 86400000000" if d == SPARK else f"({us}) // 86400000000"
    return f"""
    WITH ue AS (SELECT user_id, {day} AS day FROM events),
    first AS (SELECT user_id, min(day) AS cohort_day FROM ue GROUP BY user_id)
    SELECT f.cohort_day,
           ue.day - f.cohort_day AS day_offset,
           count(DISTINCT ue.user_id) AS n_users
    FROM ue JOIN first f ON ue.user_id = f.user_id
    GROUP BY f.cohort_day, ue.day - f.cohort_day
    """


def sql_events_funnel(d: str) -> str:
    """Ordered funnel view → click → purchase: a user advances a
    stage only with a LATER event of the next type (min-timestamp
    chaining via conditional aggregation — two shuffles on user_id,
    no self-joins). Integer microsecond comparisons; counts exact."""
    us = _us("ts", d)
    return f"""
    WITH e AS (SELECT user_id, event_type, {us} AS us FROM events),
    s1 AS (
        SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t_view
        FROM e GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, s1.t_view,
               min(CASE WHEN e.event_type = 'click' AND e.us > s1.t_view THEN e.us END) AS t_click
        FROM e JOIN s1 ON e.user_id = s1.user_id
        WHERE s1.t_view IS NOT NULL
        GROUP BY e.user_id, s1.t_view
    ),
    s3 AS (
        SELECT e.user_id, s2.t_view, s2.t_click,
               min(CASE WHEN e.event_type = 'purchase' AND e.us > s2.t_click THEN e.us END) AS t_buy
        FROM e JOIN s2 ON e.user_id = s2.user_id
        WHERE s2.t_click IS NOT NULL
        GROUP BY e.user_id, s2.t_view, s2.t_click
    )
    SELECT
        (SELECT count(*) FROM s1 WHERE t_view IS NOT NULL) AS n_view,
        (SELECT count(*) FROM s2 WHERE t_click IS NOT NULL) AS n_view_click,
        (SELECT count(*) FROM s3 WHERE t_buy IS NOT NULL) AS n_view_click_buy
    """


def sql_events_pivot_types(d: str) -> str:
    """Pivot via portable conditional aggregation: per-user event-type
    count matrix (the unpivot twin is `stack`/UNPIVOT)."""
    types = ("click", "view", "purchase", "signup", "error")
    # CAST: DuckDB sum(int) widens to HUGEINT → decimal128 in Arrow;
    # Spark emits bigint. Counts are tiny, so BIGINT is exact.
    cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in types
    )
    return f"""
    SELECT user_id,
           {cols},
           count(*) AS n_total
    FROM events
    GROUP BY user_id
    """


def events_unpivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (the stack twin of events_pivot_types): the per-user
    type-count matrix melts back to (user_id, event_type, n) long form
    via Spark's ``stack`` table generator — a Generate node, no
    shuffle beyond the pivot's own aggregation."""
    register_views(spark, sf_dir)
    types = ("click", "view", "purchase", "signup", "error")
    wide = spark.sql(sql_events_pivot_types(SPARK))
    stack_expr = "stack({}, {}) AS (event_type, n)".format(
        len(types), ", ".join(f"'{t}', n_{t}" for t in types)
    )
    return wide.selectExpr("user_id", stack_expr).where("n > 0")


def _oracle_events_unpivot(d: str) -> str:
    types = ("click", "view", "purchase", "signup", "error")
    base = sql_events_pivot_types(DUCK)
    arms = " UNION ALL ".join(
        f"SELECT user_id, '{t}' AS event_type, n_{t} AS n FROM wide WHERE n_{t} > 0" for t in types
    )
    return f"WITH wide AS ({base}) {arms}"


def sql_events_anomaly_mad(d: str) -> str:
    """Robust daily-volume anomaly detection per event type — the
    median / median-absolute-deviation flag an ingestion monitor
    runs (MAD is outlier-proof where mean/stddev are dragged by the
    very spike being hunted). Integer-exact by construction: the
    "median" is the LOWER median (row_number == (n+1) div 2 over the
    count-ascending order, ties by day), MAD is the lower median of
    |count − med|, and a day is anomalous iff |count − med| > 5·MAD
    — all int64 comparisons, no percentile interpolation to diverge
    between engines. Two tiny windows over the per-(type, day)
    aggregate (dimension-sized at any corpus scale); the corpus-
    sized work is the one count aggregate."""
    idiv = "div" if d == SPARK else "//"
    day = "CAST(date_trunc('day', ts) AS DATE)"
    return f"""
    WITH daily AS (
        SELECT event_type, {day} AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, {day}
    ),
    med AS (
        SELECT event_type, n AS med_n
        FROM (
            SELECT event_type, n,
                   row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS cnt
            FROM daily
        ) x WHERE rk = (cnt + 1) {idiv} 2
    ),
    dev AS (
        SELECT daily.event_type, daily.day, daily.n, med.med_n,
               abs(daily.n - med.med_n) AS adev
        FROM daily JOIN med ON med.event_type = daily.event_type
    ),
    mad AS (
        SELECT event_type, adev AS mad_n
        FROM (
            SELECT event_type, adev,
                   row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS cnt
            FROM dev
        ) y WHERE rk = (cnt + 1) {idiv} 2
    )
    SELECT dev.event_type, dev.day, dev.n, dev.med_n, mad.mad_n,
           CASE WHEN dev.adev > 5 * mad.mad_n THEN 1 ELSE 0 END AS is_anomaly
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    """


def sql_events_quantiles(d: str) -> str:
    """Exact interpolated quantiles + exact distinct (the bench twin of
    approx_count_distinct / percentile_approx, which are
    engine-specific sketches and can't hash-match across engines)."""
    pct = "percentile" if d == SPARK else "quantile_cont"
    return f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           round({pct}(value, 0.5), 4) AS p50,
           round({pct}(value, 0.9), 4) AS p90,
           round({pct}(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """


def sql_events_user_daily(d: str) -> str:
    """Per-user daily activity rollup + distinct event types."""
    us = _us("date_trunc('day', ts)", d)
    return f"""
    SELECT user_id, {us} AS day_us,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY 1, 2
    """


def sql_corpus_decontaminate(d: str) -> str:
    """Benchmark decontamination — the eval-overlap screen every
    serious pretraining corpus runs (per GPT-3 §C / PaLM app.): flag
    training documents sharing word-5-gram shingles with the eval
    set. The eval set here is the deterministic 2% slice
    ``doc_id % 50 = 0`` (eval docs screen themselves out — a doc
    trivially overlaps itself, so eval members are excluded from the
    training side). One shingle equi-join against the (small) eval
    shingle table — at lake scale the eval side broadcasts and the
    screen is map-side; emits overlap counts ≥ 3 (the contamination
    threshold), distinct eval docs hit, and the worst single-doc
    overlap."""
    codes = pt.arr_distinct(pt.shingle_codes("text", d, n=5), d)
    explode = "explode" if d == SPARK else "unnest"
    return f"""
    WITH sh AS (SELECT doc_id, {explode}({codes}) AS sh FROM documents),
    eval_sh AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 50 = 0),
    train_sh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
    hits AS (
        SELECT t.doc_id, e.eval_id, count(*) AS n_shared
        FROM train_sh t JOIN eval_sh e ON t.sh = e.sh
        GROUP BY t.doc_id, e.eval_id
    )
    SELECT doc_id,
           cast(sum(n_shared) AS bigint) AS n_overlap_shingles,
           count(*) AS n_eval_docs_hit,
           cast(max(n_shared) AS bigint) AS worst_single_overlap
    FROM hits
    GROUP BY doc_id
    HAVING max(n_shared) >= 3
    """


def sql_text_pii_scrub(d: str) -> str:
    """PII scrubbing — the redaction stage a pre-training pipeline
    runs before anything else sees the text: emails → ``<EMAIL>``,
    IPv4 literals → ``<IP>``, +digit phone shapes → ``<PHONE>``.
    Patterns use the RE2 ∩ Java-identical subset (no lookaround, no
    unicode classes). The corpus text carries no PII, so each doc is
    deterministically salted with synthetic PII derived from doc_id —
    the scrubber then parses the TEXT generically, and the gate pins
    both the redacted output and the per-kind counts. Map-only."""
    # no backslashes: Spark SQL string literals eat unknown escapes
    # while DuckDB keeps them — bracket classes sidestep the whole
    # dialect divergence ([.] = literal dot, [+] = literal plus)
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
    ip = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
    phone = "[+][0-9]{2}[0-9 ]{7,12}[0-9]"
    b = "cast(doc_id % 250 AS string)"
    salted = (
        f"text || ' contact user' || {b} || '@mail' || cast(doc_id % 7 AS string) || '.example.org'"
        f" || ' from 10.' || {b} || '.0.' || cast(doc_id % 9 AS string)"
        f" || CASE WHEN doc_id % 3 = 0 THEN ' call +49 30 ' || {b} || '5550' ELSE '' END"
    )

    def _count(pat: str) -> str:
        if d == SPARK:
            return f"size(regexp_extract_all(salted, '{pat}', 0))"
        return f"len(regexp_extract_all(salted, '{pat}'))"

    def _sub(expr: str, pat: str, repl: str) -> str:
        # DuckDB replaces only the first match without the 'g' flag;
        # Spark always replaces all
        if d == SPARK:
            return f"regexp_replace({expr}, '{pat}', '{repl}')"
        return f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"

    scrubbed = _sub(_sub(_sub("salted", email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")
    return f"""
    WITH s AS (SELECT doc_id, {salted} AS salted FROM documents)
    SELECT doc_id,
           {scrubbed} AS scrubbed,
           {_count(email)} AS n_emails,
           {_count(ip)} AS n_ips,
           {_count(phone)} AS n_phones
    FROM s
    """


def sql_sketch_cms_tokens(d: str) -> str:
    """Portable count-min sketch over the corpus token stream — the
    streaming/heavy-hitter counterpart of the KMV distinct sketch
    (same portability argument: engine-native approx aggregates can
    never hash-match, md5-derived bucket hashing is bit-identical).
    A 4×64 counter grid is built in one grouped count; the exact
    top-10 tokens are then estimated as ``min`` over their four row
    counters, and CMS ≥ exact by construction — the gate pins both
    the estimates AND the overestimate invariant. At lake scale the
    grid is a 256-cell aggregate (combinable partials per executor);
    the 4 hashes would derive from ONE md5 per token rather than
    four (noted; the gate favors the simpler spelled-out form)."""
    toks = pt.tokens("text", d)
    if d == SPARK:
        explode_toks = f"SELECT explode({toks}) AS token FROM documents"
        rows4 = "SELECT explode(sequence(0, 3)) AS row_i"
    else:
        explode_toks = f"SELECT unnest({toks}) AS token FROM documents"
        rows4 = "SELECT unnest(generate_series(0, 3)) AS row_i"
    h = pt.hex15("('cms' || cast(row_i AS string) || token)", d)
    return f"""
    WITH tok AS ({explode_toks}),
    rows4 AS ({rows4}),
    counters AS (
        SELECT row_i, {h} % 64 AS bucket, count(*) AS c
        FROM tok CROSS JOIN rows4
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT token, count(*) AS exact_n
        FROM tok GROUP BY token ORDER BY exact_n DESC, token LIMIT 10
    )
    SELECT e.token, e.exact_n,
           cast(min(c.c) AS bigint) AS cms_n,
           min(c.c) >= e.exact_n AS never_undercounts
    FROM exact e
    CROSS JOIN rows4 r
    JOIN counters c
      ON c.row_i = r.row_i
     AND c.bucket = {pt.hex15("('cms' || cast(r.row_i AS string) || e.token)", d)} % 64
    GROUP BY e.token, e.exact_n
    """


def sql_events_daily_spikes(d: str) -> str:
    """Per-user activity-spike days with an INTEGER-EXACT decision:
    flag day D for user U when ``2 * c_D * n_days >= 3 * total``
    (the day's count is ≥ 1.5× the user's daily mean). Float z-scores
    diverge across engines in summation-order ulps; cross-multiplied
    int64 comparisons cannot — including exactly AT the threshold.
    The anomaly-screening shape of an events pipeline: one groupBy
    shuffle to days, one window per user."""
    us = _us("date_trunc('day', ts)", d)
    return f"""
    WITH daily AS (
        SELECT user_id, {us} AS day_us, count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT user_id, day_us, n_events,
               count(*) OVER (PARTITION BY user_id) AS n_days,
               -- CAST: DuckDB widens windowed sum(BIGINT) to HUGEINT
               -- (→ Arrow decimal128), which value-hashes differently
               cast(sum(n_events) OVER (PARTITION BY user_id) AS bigint) AS total
        FROM daily
    )
    SELECT user_id, day_us, n_events, n_days, total
    FROM tot
    WHERE 2 * n_events * n_days >= 3 * total
    """


def sql_text_top_tokens(d: str) -> str:
    """Corpus-level token frequency top-100 — the vocabulary /
    stopword-list building stage of a text pipeline. One explode +
    one count shuffle with map-side partial aggregation; the global
    top-k is a TakeOrderedAndProject (no full sort at scale).
    Deterministic tiebreak: count DESC, then token ASC."""
    explode = "explode" if d == SPARK else "unnest"
    toks = pt.tokens("text", d)
    return f"""
    SELECT token, count(*) AS n
    FROM (SELECT {explode}({toks}) AS token FROM documents) t
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 100
    """


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload metadata
# ---------------------------------------------------------------------------


def sql_multimodal_meta(d: str) -> str:
    """Opaque-binary column handling: payload size + content digest
    (decode itself is the stubbed Pandas-UDF path in
    operators/multimodal.py; this is the relational metadata side)."""
    blob = "cast(text as binary)" if d == SPARK else "encode(text)"
    return f"""
    SELECT doc_id, source,
           octet_length({blob}) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """


# ---------------------------------------------------------------------------
# Web URL canonicalization (the crawl-pipeline stage BEFORE content dedup)
# ---------------------------------------------------------------------------


def _raw_url_expr(d: str) -> str:
    """The deterministic raw-URL synthesis expression (two raw
    variants per canonical identity, cycling on doc_id div 250) —
    test scaffolding standing in for the crawl's url column."""
    idiv = "div" if d == SPARK else "//"
    b = "cast(doc_id % 250 as string)"
    b37 = "cast((doc_id % 250) % 37 as string)"
    b5 = "cast((doc_id % 250) % 5 as string)"
    return f"""CASE WHEN (doc_id {idiv} 250) % 2 = 0
        THEN 'https://www.site' || {b37} || '.example' || {b5} || '.com/articles/item' || {b} || '?a=1&b=2'
        ELSE 'HTTPS://Site' || {b37} || '.EXAMPLE' || {b5} || '.COM:443/articles/item' || {b} || '/?b=2&utm_source=feed&a=1&gclid=xyz#section2'
        END"""


def _sql_web_urls(d: str, raw_source: str | None = None) -> str:
    """Deterministic raw-URL synthesis + generic canonicalization CTE.

    A 100 TB crawl dedups URLs before it ever hashes content: the same
    page arrives as ``https://www.Site9.EXAMPLE2.COM:443/p/9/?b=2&
    utm_source=feed&a=1#frag`` and ``https://site9.example2.com/p/9?
    a=1&b=2``. URLs are synthesized from doc_id alone (see
    :func:`_raw_url_expr`) so no external data is needed;
    canonicalization then parses the RAW string generically —
    scheme/host lowercase, www. strip, default-port drop, trailing-
    slash strip, fragment drop, tracking-param removal
    (utm_*/fbclid/gclid), and query-param sort — all pure
    dual-dialect expressions, zero UDF, map-only (whole-stage codegen;
    at lake scale this is a projection pushed into the scan).

    ``raw_source``: name of a view already holding (doc_id, url) —
    the Spark side passes a PERSISTED raw projection here so the
    synth CASE-chain and the parse live in separate codegen stages.
    Collapsed into one projection they exceed janino's 64 KB method
    limit on the join-heavy queries (robots filter references canon
    twice) and Spark silently falls back to interpreted rows —
    correct but the slow path at lake scale."""
    raw_sel = (
        f"SELECT doc_id, {_raw_url_expr(d)} AS url FROM documents"
        if raw_source is None
        else f"SELECT doc_id, url FROM {raw_source}"
    )
    params = pt.str_split("q", "&", d)
    lam = (
        "x -> x <> '' AND substr(split_part(x, '=', 1), 1, 4) <> 'utm_' "
        "AND split_part(x, '=', 1) NOT IN ('fbclid', 'gclid')"
    )
    qcanon = pt.arr_join(pt.arr_sort(pt.arr_filter(params, lam, d), d), "&", d)
    labels = pt.str_split("host", ".", d)
    dom = f"{pt.arr_at(labels, -2, d)} || '.' || {pt.arr_at(labels, -1, d)}"
    return f"""
    raw AS ({raw_sel}),
    split1 AS (
        SELECT doc_id, url,
               lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
               split_part(split_part(url, '#', 1), '://', 2) AS rest
        FROM raw
    ),
    split2 AS (
        SELECT *, split_part(rest, '/', 1) AS hostport,
               substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
        FROM split1
    ),
    split3 AS (
        SELECT *,
               CASE WHEN substr(lower(split_part(hostport, ':', 1)), 1, 4) = 'www.'
                    THEN substr(lower(split_part(hostport, ':', 1)), 5)
                    ELSE lower(split_part(hostport, ':', 1)) END AS host,
               split_part(hostport, ':', 2) AS port,
               CASE WHEN split_part(pathq, '?', 1) = '' THEN '/'
                    ELSE split_part(pathq, '?', 1) END AS path0,
               split_part(pathq, '?', 2) AS q
        FROM split2
    ),
    canon AS (
        SELECT doc_id, url, host,
               CASE WHEN length(path0) > 1 AND substr(path0, length(path0), 1) = '/'
                    THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
               scheme || '://' || host ||
               CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443')
                    THEN '' ELSE ':' || port END ||
               CASE WHEN length(path0) > 1 AND substr(path0, length(path0), 1) = '/'
                    THEN substr(path0, 1, length(path0) - 1) ELSE path0 END ||
               CASE WHEN {qcanon} = '' THEN '' ELSE '?' || {qcanon} END AS canonical_url,
               {dom} AS domain
        FROM split3
    )"""


def sql_web_skew_salt_plan(d: str, raw_source: str | None = None) -> str:
    """Per-host SKEW receipt + derived salt plan — the measured side
    of the north rule's "salted/range-partitioned by payload size to
    defeat skew from large pages": one host (a mega-site, a crawler
    trap) can hold a partition-sized share of the crawl's bytes, and
    a plain hash-by-host layout then ships one straggler task. Per
    host this computes the doc count, total and max payload
    (char-length proxy for the html byte column), the host's share of
    the corpus in basis points, and ``salt_fanout`` — how many salt
    buckets the host needs so no bucket exceeds ~1/32 of the corpus
    (the cluster-parallelism proxy): ceil(32·host_chars/total), i.e.
    the fan-out :mod:`gluon_ocr_spark.partitioning`'s salted layout
    should use for that host. One group-by shuffle + one 1-row
    broadcast; the receipt is dimension-sized (hosts, not docs)."""
    idiv = "div" if d == SPARK else "//"
    return f"""
    WITH {_sql_web_urls(d, raw_source)},
    sizes AS (
        SELECT c.host, length(doc.text) AS n_chars
        FROM canon c JOIN documents doc ON doc.doc_id = c.doc_id
    ),
    hosts AS (
        SELECT host, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS host_chars,
               CAST(max(n_chars) AS BIGINT) AS max_doc_chars
        FROM sizes GROUP BY host
    ),
    tot AS (SELECT CAST(sum(host_chars) AS BIGINT) AS total FROM hosts)
    SELECT host, n_docs, host_chars, max_doc_chars,
           (10000 * host_chars) {idiv} total AS share_bp,
           (32 * host_chars + total - 1) {idiv} total AS salt_fanout
    FROM hosts CROSS JOIN tot
    """


def sql_web_url_canonical(d: str, raw_source: str | None = None) -> str:
    """Per-doc URL canonicalization: raw → canonical + registrable
    domain. Map-only projection — the 100 TB shape is a scan-attached
    expression, no shuffle at all."""
    return f"""
    WITH {_sql_web_urls(d, raw_source)}
    SELECT doc_id, url, canonical_url, domain FROM canon
    """


def sql_web_url_dedup(d: str, raw_source: str | None = None) -> str:
    """URL-level dedup: group on the canonical form; the two raw
    variants per identity must collapse (n_dups = docs per canonical,
    keeper = min doc_id — the same canonical-keep policy as
    dedup_exact). One hash shuffle on canonical_url with map-side
    partial aggregation."""
    return f"""
    WITH {_sql_web_urls(d, raw_source)}
    SELECT canonical_url,
           count(*) AS n_dups,
           min(doc_id) AS keeper
    FROM canon
    GROUP BY canonical_url
    """


def sql_web_robots_filter(d: str, raw_source: str | None = None) -> str:
    """Robots-style URL filtering (crawl politeness — the drop stage
    between URL canonicalization and fetching/keeping): per-domain
    Allow/Disallow path-prefix rules, longest matching prefix wins,
    tie → Allow, no match → allowed (the Google robots.txt matching
    semantics). The rule table is a tiny literal dim — at lake scale
    it broadcasts and the prefix match is a map-side
    broadcast-nested-loop over an already-canonicalized projection;
    the only window runs per doc over ≤ a handful of matched rules."""
    rules = """
        SELECT 'example0.com' AS rdomain, 'disallow' AS typ, '/articles/item1' AS prefix
        UNION ALL SELECT 'example0.com', 'allow', '/articles/item12'
        UNION ALL SELECT 'example1.com', 'disallow', '/articles'
        UNION ALL SELECT 'example1.com', 'allow', '/articles/item2'
        UNION ALL SELECT 'example3.com', 'disallow', '/private'
        UNION ALL SELECT 'example4.com', 'disallow', '/articles/item20'
    """
    return f"""
    WITH {_sql_web_urls(d, raw_source)},
    rules AS ({rules}),
    matches AS (
        SELECT c.doc_id, c.domain, c.path, r.typ, r.prefix,
               row_number() OVER (
                   PARTITION BY c.doc_id
                   ORDER BY length(r.prefix) DESC, r.typ ASC, r.prefix ASC
               ) AS rn
        FROM canon c
        JOIN rules r
          ON c.domain = r.rdomain
         AND substr(c.path, 1, length(r.prefix)) = r.prefix
    )
    SELECT c.doc_id, c.domain, c.path,
           coalesce(m.prefix, '') AS matched_prefix,
           coalesce(m.typ = 'allow', true) AS allowed
    FROM canon c
    LEFT JOIN (SELECT * FROM matches WHERE rn = 1) m ON m.doc_id = c.doc_id
    """


def sql_web_pagerank(d: str) -> str:
    """Two unrolled PageRank iterations over a synthetic link graph —
    link analysis for crawl prioritization, the classic iterative-
    equi-join web computation (each iteration = one join-aggregate,
    exactly the CC round shape). All arithmetic is INTEGER: ranks are
    parts-per-million (start 10^6), per-edge contributions use floor
    division by out-degree, and the damping step is
    ``150000 + (850000 · Σcontrib) div 10^6`` — float PR would
    diverge across engines in reduction-order ulps, integer PR cannot
    (worst products ≲ 4·10^15 ≪ 2^63). Links derive from doc_id via
    three affine formulas mod N (UNION-deduped; self-links kept, no
    dangling nodes by construction)."""
    idiv = "div" if d == SPARK else "//"
    edge = (
        "SELECT doc_id AS u, (doc_id * 7 + 1) % n.n AS v FROM documents CROSS JOIN n"
        " UNION SELECT doc_id, (doc_id * 13 + 2) % n.n FROM documents CROSS JOIN n"
        " UNION SELECT doc_id, (doc_id * 31 + 5) % n.n FROM documents CROSS JOIN n"
    )

    def step(prev: str, out: str) -> str:
        return f"""
    c_{out} AS (
        SELECT e.v AS node,
               cast(sum({prev}.r {idiv} o.deg) AS bigint) AS contrib
        FROM edges e
        JOIN {prev} ON {prev}.node = e.u
        JOIN outdeg o ON o.u = e.u
        GROUP BY e.v
    ),
    {out} AS (
        SELECT {prev}.node,
               cast(150000 + (850000 * coalesce(c_{out}.contrib, 0)) {idiv} 1000000
                    AS bigint) AS r
        FROM {prev} LEFT JOIN c_{out} ON c_{out}.node = {prev}.node
    )"""

    return f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges AS ({edge}),
    outdeg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
    r0 AS (SELECT doc_id AS node, cast(1000000 AS bigint) AS r FROM documents),
    {step("r0", "r1")},
    {step("r1", "r2")}
    SELECT r2.node AS doc_id, r1.r AS rank_ppm_1, r2.r AS rank_ppm_2
    FROM r2 JOIN r1 ON r1.node = r2.node
    """


def sql_web_domain_stats(d: str, raw_source: str | None = None) -> str:
    """Registrable-domain rollup (crawl curation: per-domain budgets,
    blocklists, sampling weights). Distinct-counts ride the same
    single shuffle as the group-by."""
    return f"""
    WITH {_sql_web_urls(d, raw_source)}
    SELECT domain,
           count(*) AS n_docs,
           count(DISTINCT canonical_url) AS n_canonical,
           count(DISTINCT host) AS n_hosts
    FROM canon
    GROUP BY domain
    """


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

SQL_QUERIES: dict[str, Callable[[str], str]] = {
    "text_stats": sql_text_stats,
    "text_bpe_tokens": sql_text_bpe_tokens,
    "text_quality": sql_text_quality,
    "text_lang_id": sql_text_lang_id,
    "text_fingerprint": sql_text_fingerprint,
    "text_repetition": sql_text_repetition,
    "text_bigram_rarity": sql_text_bigram_rarity,
    "text_lm_surprisal": sql_text_lm_surprisal,
    "text_winnow": sql_text_winnow,
    "text_winnow_pairs": sql_text_winnow_pairs,
    "text_dup_ngrams": sql_text_dup_ngrams,
    "text_pii_scrub": sql_text_pii_scrub,
    "corpus_decontaminate": sql_corpus_decontaminate,
    "corpus_dsir_sample": sql_corpus_dsir_sample,
    "corpus_gate_funnel": sql_corpus_gate_funnel,
    "dedup_incremental_funnel": sql_dedup_incremental_funnel,
    "web_url_canonical": sql_web_url_canonical,
    "web_url_dedup": sql_web_url_dedup,
    "web_domain_stats": sql_web_domain_stats,
    "web_robots_filter": sql_web_robots_filter,
    "web_pagerank": sql_web_pagerank,
    "web_skew_salt_plan": sql_web_skew_salt_plan,
    "sketch_kmv_distinct": sql_sketch_kmv_distinct,
    "sketch_cms_tokens": sql_sketch_cms_tokens,
    "corpus_sample_stratified": sql_corpus_sample_stratified,
    "dedup_exact": sql_dedup_exact,
    "dedup_token_jaccard": sql_dedup_token_jaccard,
    "dedup_minhash_bands": sql_dedup_minhash_bands,
    "dedup_minhash_pairs": sql_dedup_minhash_pairs,
    "dedup_shingle_minhash": sql_dedup_shingle_minhash,
    "dedup_simhash": sql_dedup_simhash,
    "dedup_simhash_hamming": sql_dedup_simhash_hamming,
    "recog_bucket_keys": sql_recog_bucket_keys,
    "dedup_embedding_cosine": sql_dedup_embedding_cosine,
    "dedup_semantic": sql_dedup_semantic,
    "ann_ivf_recall": sql_ann_ivf_recall,
    "ann_pq_recall": sql_ann_pq_recall,
    "ann_topk": sql_ann_topk,
    "ann_filtered_topk": sql_ann_filtered_topk,
    "emb_label_centroids": sql_emb_label_centroids,
    "emb_cell_confusion": sql_emb_cell_confusion,
    "ann_lsh_buckets": sql_ann_lsh_buckets,
    "ann_lsh_topk": sql_ann_lsh_topk,
    "ann_ivf_topk": sql_ann_ivf_topk,
    "ann_ivf_nprobe2": sql_ann_ivf_nprobe2,
    "q1_pricing_summary": sql_q1_pricing_summary,
    "q3_shipping_priority": sql_q3_shipping_priority,
    "q10_returned_items": sql_q10_returned_items,
    "q7_nation_volume": sql_q7_nation_volume,
    "q8_market_share": sql_q8_market_share,
    "q9_product_profit": sql_q9_product_profit,
    "q4_order_priority": sql_q4_order_priority,
    "q13_customer_distribution": sql_q13_customer_distribution,
    "q18_large_orders": sql_q18_large_orders,
    "q22_idle_customers": sql_q22_idle_customers,
    "q2_top_supplier_balance": sql_q2_top_supplier_balance,
    "q6_forecast_revenue": sql_q6_forecast_revenue,
    "q14_promo_share": sql_q14_promo_share,
    "cube_order_mix": sql_cube_order_mix,
    "text_bm25": sql_text_bm25,
    "text_tfidf_terms": sql_text_tfidf_terms,
    "ann_pq_topk": sql_ann_pq_topk,
    "text_dedup_spans": sql_text_dedup_spans,
    "corpus_pack_sequences": sql_corpus_pack_sequences,
    "dedup_lsh_recall": sql_dedup_lsh_recall,
    "dedup_threshold_sweep": sql_dedup_threshold_sweep,
    "text_inverted_postings": sql_text_inverted_postings,
    "corpus_mix_allocation": sql_corpus_mix_allocation,
    "corpus_mix_unimax": sql_corpus_mix_unimax,
    "corpus_shuffle_shards": sql_corpus_shuffle_shards,
    "text_dup_run_lengths": sql_text_dup_run_lengths,
    "q5_region_revenue": sql_q5_region_revenue,
    "top_customers_window": sql_top_customers_window,
    "supplier_part_volume": sql_supplier_part_volume,
    "rollup_returns": sql_rollup_returns,
    "set_ops_users": sql_set_ops_users,
    "events_sessionize": sql_events_sessionize,
    "events_asof_signup": sql_events_asof_signup,
    "events_pivot_types": sql_events_pivot_types,
    "events_retention": sql_events_retention,
    "events_funnel": sql_events_funnel,
    "events_quantiles": sql_events_quantiles,
    "events_anomaly_mad": sql_events_anomaly_mad,
    "events_hourly": sql_events_hourly,
    "events_user_daily": sql_events_user_daily,
    "events_daily_spikes": sql_events_daily_spikes,
    "text_top_tokens": sql_text_top_tokens,
    "multimodal_meta": sql_multimodal_meta,
}


def extract_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction as a driver-checkable query: wrap each
    document's text in full boilerplate chrome (deterministic HTML),
    run the distributed extraction pipeline, emit (doc_id, text).
    Oracle: ``SELECT doc_id, text FROM documents`` — i.e. extraction
    must be the exact inverse of page synthesis, byte-identical."""
    from pyspark.sql import functions as F

    from .operators.extract import extract_docs
    from .sources.pages import wrap_documents

    docs = _docs(spark, sf_dir)
    pages = wrap_documents(docs)
    extracted = extract_docs(pages)
    return extracted.select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        F.col("text"),
    )


def extract_lines_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level extraction: wrap → extract → posexplode spans.
    Documents are single-line, so the oracle is exact: one line per
    doc with full-width span offsets (drives the C1 lateral-explode
    path through the gate)."""
    from pyspark.sql import functions as F

    from .operators.extract import extract_docs, docs_to_lines
    from .sources.pages import wrap_documents

    docs = _docs(spark, sf_dir)
    lines = docs_to_lines(extract_docs(wrap_documents(docs)))
    return lines.select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        "line_id",
        "start",
        "end",
        F.col("line_text"),
    )


def extract_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pipeline: extraction UDF output chained into the
    relational token-stats operator. Oracle computes the same stats
    directly on documents.text — passes iff extraction is the
    identity AND the stats expressions match."""
    from pyspark.sql import functions as F

    from .operators.extract import extract_docs
    from .operators.textstats import with_token_stats
    from .sources.pages import wrap_documents

    docs = _docs(spark, sf_dir)
    extracted = extract_docs(wrap_documents(docs))
    stats = with_token_stats(extracted)
    return stats.select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        "n_tokens",
        F.col("n_chars").cast("int").alias("n_chars"),
        "n_distinct_tokens",
        "avg_token_len",
    )


def extract_pdf_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PDF leg of the north rule's extraction contract, corpus-
    scale: wrap each document's text into a REAL PDF byte stream
    (variant cycling over classic-xref/Tm/TJ-kern/ObjStm files, see
    :func:`gluon_ocr_spark.sources.pages.wrap_text_as_pdf`), run the
    SAME distributed extraction operator as the HTML leg (the payload
    sniff routes per row), emit (doc_id, text). Oracle:
    ``SELECT doc_id, text FROM documents`` — extraction must invert
    PDF synthesis byte-identically, like extract_roundtrip does for
    HTML chrome."""
    from pyspark.sql import functions as F

    from .operators.extract import extract_docs
    from .sources.pages import wrap_documents_pdf

    docs = _docs(spark, sf_dir)
    pages = wrap_documents_pdf(docs)
    extracted = extract_docs(pages)
    return extracted.select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        F.col("text"),
    )


def corpus_prep_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL corpus-prep pipeline as a driver-gated query: mixed
    payloads (even doc_id → HTML chrome, odd → real PDF bytes — the
    per-row payload sniff must route both), distributed extraction,
    the quality/repetition gates, and the exact-dedup canonical-keep
    window — i.e. :func:`gluon_ocr_spark.pipeline.prepare_corpus`'s
    transform chain minus the write. Every stage has its own gated
    twin; this entry gates their COMPOSITION (filter interaction,
    post-UDF codegen fusion, dedup window over the extracted — not
    source — text). Oracle recomputes the same gates relationally on
    documents.text (extraction must be the identity for the pipeline
    to agree)."""
    from pyspark.sql import functions as F

    from .operators.dedup import drop_exact_dups
    from .operators.extract import extract_docs
    from .operators.textstats import quality_gate
    from .sources.pages import wrap_documents, wrap_documents_pdf

    docs_tbl = _docs(spark, sf_dir)
    even = wrap_documents(docs_tbl.where(F.col("doc_id") % 2 == 0))
    odd = wrap_documents_pdf(docs_tbl.where(F.col("doc_id") % 2 == 1))
    pages = even.unionByName(odd)
    qualified = quality_gate(extract_docs(pages))
    deduped = drop_exact_dups(qualified, id_col="url", text_col="text")
    return deduped.select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        "n_tokens",
        "dup_bigram_frac",
        F.md5(F.lower(F.col("text"))).alias("content_fp"),
    )


def _oracle_corpus_prep(d: str) -> str:
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    if d == SPARK:
        bg = (
            f"CASE WHEN size({toks}) >= 2 THEN transform(sequence(1, size({toks}) - 1), "
            f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) ELSE array() END"
        )
    else:
        bg = (
            f"CASE WHEN len({toks}) >= 2 THEN list_transform(generate_series(1, len({toks}) - 1), "
            f"i -> {toks}[i] || ' ' || {toks}[i + 1]) ELSE [] END"
        )
    nbg = pt.arr_size("bg", d)
    ndbg = pt.arr_size(pt.arr_distinct("bg", d), d)
    return f"""
    WITH stats AS (
        SELECT doc_id, text, {n} AS n_tokens, length(text) AS n_chars, {bg} AS bg
        FROM documents
    ),
    rep AS (
        SELECT doc_id, text, n_tokens, n_chars,
               CASE WHEN {nbg} > 0
                    THEN round(1.0 - cast({ndbg} AS double) / {nbg}, 4)
                    ELSE 0.0 END AS dup_bigram_frac
        FROM stats
    ),
    qualified AS (
        SELECT * FROM rep
        WHERE n_tokens >= 10 AND n_tokens <= 100000 AND n_chars > 0
          AND dup_bigram_frac <= 0.9
    ),
    ranked AS (
        SELECT doc_id, n_tokens, dup_bigram_frac, md5(lower(text)) AS content_fp,
               row_number() OVER (
                   PARTITION BY md5(lower(text))
                   ORDER BY 'doc://' || cast(doc_id AS string)
               ) AS rn
        FROM qualified
    )
    SELECT doc_id, n_tokens, dup_bigram_frac, content_fp
    FROM ranked WHERE rn = 1
    """


def text_bpe_merged_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token counts: the GPT-2-style merge loop
    (kernels/bpe.py) over every document, merges table trained once
    on the driver and BROADCAST to executors (the S10 weights-source
    pattern — the table is the artifact, never retrained per task).
    The regex pre-tokenizer (text_bpe_tokens) under-approximates true
    token counts — one regex hit may be many BPE tokens — and token
    counts are the budgeting currency of a training-data pipeline.

    Arrow-batched mapInPandas over a pruned (doc_id, text)
    projection; map-only, zero shuffle. Exactness is gated by the
    kernel_bpe fixture family (the merge loop is not SQL-expressible,
    so this entry takes the driver's rows-only check)."""
    import pandas as pd

    from .kernels.bpe import build_ranks, build_vocab, default_merges, encode_ids, pre_tokenize

    merges = list(default_merges())
    bc = spark.sparkContext.broadcast(merges)

    def gen(batches):
        ranks = build_ranks(bc.value)
        vocab = build_vocab(bc.value)
        for b in batches:
            ids_list = [encode_ids(t, ranks, vocab) for t in b["text"]]
            digests = []
            for ids in ids_list:
                dg = 0
                for tid in ids:
                    dg = (dg * 1000003 + tid) % 2147483647
                digests.append(dg)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "n_pre_tokens": [len(pre_tokenize(t)) for t in b["text"]],
                    "n_tokens": [len(i) for i in ids_list],
                    "ids_digest": digests,
                }
            )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return docs.mapInPandas(
        gen, schema="doc_id bigint, n_pre_tokens bigint, n_tokens bigint, ids_digest bigint"
    )


def corpus_prep_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_prep_roundtrip + the NEAR-dup cluster prune — the full
    production pipeline :func:`gluon_ocr_spark.pipeline.prepare_corpus`
    now runs (mixed HTML+PDF extraction → quality/repetition gates →
    exact dedup → minhash candidate pairs → exact-Jaccard verify →
    connected components → keep only component-min docs). The
    round-3 gap this closes: the pipeline
    previously stopped at exact dedup, shipping transitive A~B~C
    near-duplicate chains the operators individually knew how to
    kill. Oracle recomputes the gates + a recursive min-label CC over
    the same minhash pair graph on documents.text (extraction is the
    identity, proven by extract_roundtrip/extract_pdf_roundtrip)."""
    from pyspark.sql import functions as F

    from .operators.dedup import drop_exact_dups, drop_near_dups
    from .operators.extract import extract_docs
    from .operators.textstats import quality_gate
    from .sources.pages import wrap_documents, wrap_documents_pdf

    docs_tbl = _docs(spark, sf_dir)
    even = wrap_documents(docs_tbl.where(F.col("doc_id") % 2 == 0))
    odd = wrap_documents_pdf(docs_tbl.where(F.col("doc_id") % 2 == 1))
    pages = even.unionByName(odd)
    qualified = quality_gate(extract_docs(pages))
    deduped = drop_exact_dups(qualified, id_col="url", text_col="text").select(
        F.split_part(F.col("url"), F.lit("doc://"), F.lit(-1)).cast("bigint").alias("doc_id"),
        "text",
        "n_tokens",
        "dup_bigram_frac",
    )
    # materialize before the prune: it reads this frame three times
    # (candidate gen / Jaccard verify / final keep join) and every CC
    # action would otherwise re-run the extraction UDF from source —
    # measured 54.6 s → boundary cuts the repeated Arrow passes
    deduped = deduped.localCheckpoint(eager=True)
    kept = drop_near_dups(deduped, id_col="doc_id", text_col="text")
    return kept.select(
        "doc_id",
        "n_tokens",
        "dup_bigram_frac",
        F.md5(F.lower(F.col("text"))).alias("content_fp"),
    )


def _oracle_corpus_prep_dedup(d: str) -> str:
    """_oracle_corpus_prep's gate chain + minhash-pair CC prune.

    Same recursive min-label reachability as _oracle_dedup_clusters,
    but the node set / pair graph is the exact-deduped qualified
    corpus instead of raw documents. O(V·E) intermediate rows — fine
    at the sf0.01 gate; the Spark side is the linear star iteration."""
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    if d == SPARK:
        bg = (
            f"CASE WHEN size({toks}) >= 2 THEN transform(sequence(1, size({toks}) - 1), "
            f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) ELSE array() END"
        )
    else:
        bg = (
            f"CASE WHEN len({toks}) >= 2 THEN list_transform(generate_series(1, len({toks}) - 1), "
            f"i -> {toks}[i] || ' ' || {toks}[i + 1]) ELSE [] END"
        )
    nbg = pt.arr_size("bg", d)
    ndbg = pt.arr_size(pt.arr_distinct("bg", d), d)
    codes = pt.token_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {band} AS band_id, {pt.band_key_expr('codes', band, d)} AS band_key FROM c"
        for band in range(n_bands)
    )
    tset = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        "size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    na = pt.arr_size("a.ts", d)
    nb = pt.arr_size("b.ts", d)
    return f"""
    WITH RECURSIVE stats AS (
        SELECT doc_id, text, {n} AS n_tokens, length(text) AS n_chars, {bg} AS bg
        FROM documents
    ),
    rep AS (
        SELECT doc_id, text, n_tokens, n_chars,
               CASE WHEN {nbg} > 0
                    THEN round(1.0 - cast({ndbg} AS double) / {nbg}, 4)
                    ELSE 0.0 END AS dup_bigram_frac
        FROM stats
    ),
    qualified AS (
        SELECT * FROM rep
        WHERE n_tokens >= 10 AND n_tokens <= 100000 AND n_chars > 0
          AND dup_bigram_frac <= 0.9
    ),
    ranked AS (
        SELECT doc_id, text, n_tokens, dup_bigram_frac,
               row_number() OVER (
                   PARTITION BY md5(lower(text))
                   ORDER BY 'doc://' || cast(doc_id AS string)
               ) AS rn
        FROM qualified
    ),
    kept AS (
        SELECT doc_id, text, n_tokens, dup_bigram_frac FROM ranked WHERE rn = 1
    ),
    c AS (SELECT doc_id, {codes} AS codes FROM kept),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    ts AS (SELECT doc_id, {tset} AS ts FROM kept),
    pairs AS (
        SELECT p.doc_a, p.doc_b
        FROM cand p
        JOIN ts a ON a.doc_id = p.doc_a
        JOIN ts b ON b.doc_id = p.doc_b
        WHERE cast({inter} AS double) / ({na} + {nb} - {inter}) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM kept
        UNION
        SELECT e.v AS id, reach.r AS r
        FROM reach JOIN edges e ON e.u = reach.id
        WHERE reach.r < e.v
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT k.doc_id, k.n_tokens, k.dup_bigram_frac, md5(lower(k.text)) AS content_fp
    FROM kept k JOIN labels l ON k.doc_id = l.doc_id
    WHERE l.doc_id = l.cluster_id
    """


def text_dedup_spans_sa_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array span dedup (Lee et al.'s real construction;
    VERDICT r4 stretch 9) over 8 deterministic shards: prefix-doubling
    SA + Kasai LCP per shard inside ``applyInPandas``
    (:func:`operators.textstats.remove_dup_spans_sa`), threshold
    t=16 tokens — double the k-gram twin's seed, exercising the SA
    path's raise-the-threshold-for-free property. The oracle is the
    equivalent t-gram formulation (a >= t repeat IS the union of its
    t-window marks) grouped per shard with EXACT gram strings — no
    hashes on either side, so a collision can never fake a match."""
    from pyspark.sql import functions as F

    from .operators.textstats import remove_dup_spans_sa

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    out = remove_dup_spans_sa(
        docs,
        min_len=16,
        n_shards=8,
        shard=F.pmod(F.col("doc_id"), F.lit(8)),
        counts_col="n_kept_tokens",
    )
    return out.select(
        "doc_id", F.col("text").alias("cleaned_text"), "n_kept_tokens"
    )


def _oracle_text_dedup_spans_sa(d: str) -> str:
    """The t-gram-equivalent formulation of per-shard suffix-array
    span dedup: shard = doc_id % 8, t = 16, dup key = the exact gram
    STRING (space-joined tokens are injective — tokens are space-
    free), count(DISTINCT doc_id) >= 2 within the shard, then the
    same gaps-and-islands interval merge / anti-join / ordered
    rebuild as sql_text_dedup_spans."""
    toks = pt.tokens("text", d)
    t = 16
    gram = f"list_aggregate(list_slice(w, i, i + {t - 1}), 'string_agg', ' ')"
    starts = (
        f"CASE WHEN len(w) >= {t} THEN list_transform(generate_series(1, len(w) - {t - 1}), "
        f"i -> {{'s': i, 'g': {gram}}}) "
        f"ELSE [] END"
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS w FROM documents),
    g AS (SELECT doc_id, {starts} AS gs FROM t),
    gpos AS (
        SELECT doc_id, doc_id % 8 AS shard, u.s AS s, u.g AS gh
        FROM (SELECT doc_id, unnest(gs) AS u FROM g) xx
    ),
    dup AS (
        SELECT shard, gh FROM gpos GROUP BY shard, gh
        HAVING count(DISTINCT doc_id) > 1
    ),
    dstart AS (
        SELECT ds.doc_id, ds.s
        FROM gpos ds JOIN dup ON ds.gh = dup.gh AND ds.shard = dup.shard
    ),
    isl AS (
        SELECT doc_id, s,
               CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) <= {t}
                    THEN 0 ELSE 1 END AS newgrp
        FROM dstart
    ),
    ranges AS (
        SELECT doc_id, min(s) AS rs, max(s) + {t - 1} AS re
        FROM (
            SELECT doc_id, s,
                   sum(newgrp) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM isl
        ) gi
        GROUP BY doc_id, grp
    ),
    covered AS (
        SELECT doc_id, unnest(generate_series(rs, re)) AS idx FROM ranges
    ),
    tokpos AS (
        SELECT doc_id, idx, w[idx] AS tok
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS idx FROM t) x
    ),
    kept AS (
        SELECT tp.doc_id, tp.idx, tp.tok
        FROM tokpos tp
        LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.idx = tp.idx
        WHERE c.idx IS NULL
    )
    SELECT t.doc_id,
           coalesce(k2.cleaned, '') AS cleaned_text,
           coalesce(k2.n_kept, 0) AS n_kept_tokens
    FROM t
    LEFT JOIN (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ) k2 ON k2.doc_id = t.doc_id
    """


_REPEAT_MASS_LS = (16, 32, 64, 128)


def text_repeat_mass_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc REPEAT-MASS histogram: how many corpus tokens sit
    inside cross-document duplicated runs of length >= L, for L in
    16/32/64/128 — the curation dial that says how aggressive span
    dedup would be BEFORE running it (the length profile of
    boilerplate mass). ONE suffix-array + LCP construction per shard;
    every threshold is read off the same LCP array (the
    raise-the-threshold-for-free property of the SA path — a k-gram
    formulation would materialize a fresh L-gram table per
    threshold). Same 8-shard layout and dup semantics as
    text_dedup_spans_sa."""
    import pandas as pd

    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        from .kernels.suffix import (
            build_corpus,
            cross_doc_dup_starts,
            keep_masks,
            lcp_array,
            suffix_array,
        )

        toks = [t.split(" ") if isinstance(t, str) else [] for t in pdf["text"]]
        seq, doc_of, pos_of = build_corpus(toks)
        sa = suffix_array(seq)
        lcp = lcp_array(seq, sa)
        total = int(sum(len(d) for d in toks))
        rows = []
        for L in _REPEAT_MASS_LS:
            starts = cross_doc_dup_starts(seq, doc_of, L, sa=sa, lcp=lcp)
            masks = keep_masks(starts, doc_of, pos_of, [len(d) for d in toks], L)
            covered = int(sum(int((~m).sum()) for m in masks))
            rows.append({"min_len": L, "covered_tokens": covered, "total_tokens": total})
        return pd.DataFrame(rows)

    shards = docs.withColumn("__shard", F.pmod(F.col("doc_id"), F.lit(8)))
    per = shards.groupBy("__shard").applyInPandas(
        lambda key, pdf: per_shard(pdf),
        schema="min_len bigint, covered_tokens bigint, total_tokens bigint",
    )
    return per.groupBy("min_len").agg(
        F.sum("covered_tokens").alias("covered_tokens"),
        F.sum("total_tokens").alias("total_tokens"),
    )


def _oracle_text_repeat_mass(d: str) -> str:
    """Per-L t-gram-equivalent formulation (exact gram strings,
    grouped per shard like the operator): covered mass at threshold
    L = sum of merged [s, s+L) cover-range lengths — merged ranges
    are disjoint, so their lengths sum without an explode."""
    toks = pt.tokens("text", d)
    ctes, selects = [], []
    for L in _REPEAT_MASS_LS:
        gram = f"list_aggregate(list_slice(w, i, i + {L - 1}), 'string_agg', ' ')"
        starts = (
            f"CASE WHEN len(w) >= {L} THEN list_transform(generate_series(1, len(w) - {L - 1}), "
            f"i -> {{'s': i, 'g': {gram}}}) "
            f"ELSE [] END"
        )
        ctes.append(f"""
    gpos{L} AS (
        SELECT doc_id, doc_id % 8 AS shard, u.s AS s, u.g AS gh
        FROM (
            SELECT doc_id, unnest({starts}) AS u
            FROM (SELECT doc_id, {toks} AS w FROM documents) t{L}
        ) x{L}
    ),
    dup{L} AS (
        SELECT shard, gh FROM gpos{L} GROUP BY shard, gh
        HAVING count(DISTINCT doc_id) > 1
    ),
    ranges{L} AS (
        SELECT doc_id, grp, min(s) AS rs, max(s) + {L - 1} AS re
        FROM (
            SELECT doc_id, s,
                   sum(newgrp) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM (
                SELECT g.doc_id, g.s,
                       CASE WHEN g.s - lag(g.s) OVER (PARTITION BY g.doc_id ORDER BY g.s) <= {L}
                            THEN 0 ELSE 1 END AS newgrp
                FROM gpos{L} g
                JOIN dup{L} dd ON dd.shard = g.shard AND dd.gh = g.gh
            ) isl{L}
        ) gi{L}
        GROUP BY doc_id, grp
    )"""
        )
        selects.append(
            f"SELECT {L} AS min_len, "
            f"coalesce((SELECT CAST(sum(re - rs + 1) AS BIGINT) FROM ranges{L}), 0) AS covered_tokens, "
            f"(SELECT CAST(sum(len({toks})) AS BIGINT) FROM documents) AS total_tokens"
        )
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def dedup_incremental_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup (VERDICT r4 stretch item 10): treat
    docs with ``doc_id % 4 != 0`` as the settled snapshot and the
    ``% 4 == 0`` quarter as today's crawl batch, then admit only the
    batch docs that survive exact-vs-base, exact-in-batch,
    near-vs-base (LSH candidates + exact-Jaccard verify against the
    snapshot) and near-in-batch (candidates → verify → CC → keep
    component-min) — :func:`gluon_ocr_spark.operators.dedup.incremental_dedup`.
    The snapshot is touched only through its two stored artifacts
    (fingerprint + band tables) plus a candidate-only text fetch; at
    10^12 base docs nothing re-scans the settled corpus."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from .operators.dedup import incremental_dedup, snapshot_artifacts

    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") % 4 != 0)
    batch = docs.where(F.col("doc_id") % 4 == 0)
    fps, bands = snapshot_artifacts(base)
    # in production these are READ from the snapshot, not derived;
    # persist stands in for the stored tables (one base scan, not 3)
    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    kept = incremental_dedup(batch, base, base_fps=fps, base_bands=bands)
    return kept.select(
        "doc_id",
        F.expr(pt.arr_size(pt.tokens("text", SPARK), SPARK)).alias("n_tokens"),
        F.md5(F.lower(F.col("text"))).alias("content_fp"),
    )


def _oracle_dedup_incremental(d: str) -> str:
    """Same four stages declaratively: anti-join on base fingerprints,
    min-id per batch fingerprint, band-bucket candidates vs the base
    band table + exact-Jaccard verify, then the recursive min-label
    CC over the verified within-batch pair graph (the O(V·E) oracle
    form — the Spark side is the linear star iteration)."""
    codes = pt.token_codes("text", d)
    n_bands = pt.MINHASH_K // pt.BAND_ROWS

    def band_selects(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT doc_id, {band} AS band_id, "
            f"{pt.band_key_expr('codes', band, d)} AS band_key FROM {src}"
            for band in range(n_bands)
        )

    tset = pt.arr_distinct(pt.tokens("text", d), d)
    inter = (
        "size(array_intersect(a.ts, b.ts))" if d == SPARK else "len(list_intersect(a.ts, b.ts))"
    )
    na = pt.arr_size("a.ts", d)
    nb = pt.arr_size("b.ts", d)
    ntok = pt.arr_size(pt.tokens("text", d), d)
    return f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
    ),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    base_fp AS (SELECT DISTINCT md5(lower(text)) AS fp FROM base),
    e1 AS (
        SELECT * FROM batch
        WHERE NOT EXISTS (
            SELECT 1 FROM base_fp WHERE base_fp.fp = md5(lower(batch.text))
        )
    ),
    r AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        FROM e1
    ),
    e2 AS (SELECT doc_id, text FROM r WHERE rn = 1),
    cb AS (SELECT doc_id, {codes} AS codes FROM e2),
    cbase AS (SELECT doc_id, {codes} AS codes FROM base),
    bands_batch AS ({band_selects('cb')}),
    bands_base AS ({band_selects('cbase')}),
    cand AS (
        SELECT DISTINCT nb.doc_id AS doc_a, bb.doc_id AS doc_b
        FROM bands_batch nb JOIN bands_base bb
          ON nb.band_id = bb.band_id AND nb.band_key = bb.band_key
    ),
    tsb AS (SELECT doc_id, {tset} AS ts FROM e2),
    tsbase AS (SELECT doc_id, {tset} AS ts FROM base),
    hit AS (
        SELECT DISTINCT p.doc_a
        FROM cand p
        JOIN tsb a ON a.doc_id = p.doc_a
        JOIN tsbase b ON b.doc_id = p.doc_b
        WHERE cast({inter} AS double) / ({na} + {nb} - {inter}) >= 0.8
    ),
    e3 AS (
        SELECT * FROM e2
        WHERE NOT EXISTS (SELECT 1 FROM hit WHERE hit.doc_a = e2.doc_id)
    ),
    c3 AS (SELECT doc_id, {codes} AS codes FROM e3),
    bands3 AS ({band_selects('c3')}),
    cand3 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands3 a JOIN bands3 b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    ),
    ts3 AS (SELECT doc_id, {tset} AS ts FROM e3),
    pairs AS (
        SELECT p.doc_a, p.doc_b
        FROM cand3 p
        JOIN ts3 a ON a.doc_id = p.doc_a
        JOIN ts3 b ON b.doc_id = p.doc_b
        WHERE cast({inter} AS double) / ({na} + {nb} - {inter}) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM e3
        UNION
        SELECT e.v AS id, reach.r AS r
        FROM reach JOIN edges e ON e.u = reach.id
        WHERE reach.r < e.v
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT k.doc_id, {ntok} AS n_tokens, md5(lower(k.text)) AS content_fp
    FROM e3 k JOIN labels l ON k.doc_id = l.doc_id
    WHERE l.doc_id = l.cluster_id
    """


def _oracle_extract_lines(d: str) -> str:
    return """
    SELECT doc_id, 0 AS line_id, 0 AS start, length(text) AS "end", text AS line_text
    FROM documents
    """


def _oracle_extract_stats(d: str) -> str:
    toks = pt.tokens("text", d)
    n = pt.arr_size(toks, d)
    nd = pt.arr_size(pt.arr_distinct(toks, d), d)
    return f"""
    SELECT doc_id, {n} AS n_tokens, length(text) AS n_chars,
           {nd} AS n_distinct_tokens,
           round(cast(length(text) - ({n} - 1) as double) / {n}, 4) AS avg_token_len
    FROM documents
    """


def dedup_minhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-operator variant of sql_dedup_minhash_pairs: persists
    the bands so the minhash computation (the expensive md5 pass) runs
    once instead of once per self-join side. Same expressions → same
    rows as the SQL template/oracle."""
    from .operators.dedup import minhash_candidate_pairs

    docs = _docs(spark, sf_dir)
    return minhash_candidate_pairs(docs)


def text_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_text_fingerprint: codes persisted before
    the 16-bit simhash (16 array references). Same rows as the SQL."""
    from pyspark.sql import functions as F

    from .operators.dedup import codes_table

    c = codes_table(_docs(spark, sf_dir), pt.token_codes("text", SPARK), extra=("text",))
    return c.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_fp"),
        F.expr(pt.simhash16_expr("codes", SPARK)).alias("simhash16"),
    )


def dedup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_dedup_simhash (same boundary)."""
    from .operators.dedup import simhash_groups

    docs = _docs(spark, sf_dir)
    return simhash_groups(docs)


def dedup_minhash_bands_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_dedup_minhash_bands (codes persisted
    before the 16 signature expressions)."""
    from .operators.dedup import minhash_bands

    docs = _docs(spark, sf_dir)
    return minhash_bands(docs)


def dedup_shingle_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_dedup_shingle_minhash: ONE persisted
    shingle-code table feeds the distinct-set projection, all 4 band
    keys, and both verification join sides — the md5 shingle pass
    runs once instead of ~18× (16 inlined sigs + 2 join sides)."""
    from pyspark import StorageLevel

    from .operators.dedup import bands_from_codes, bucket_pairs, codes_table, verify_sets

    c = codes_table(_docs(spark, sf_dir), pt.shingle_codes("text", SPARK))
    s = c.selectExpr("doc_id", f"{pt.arr_distinct('codes', SPARK)} AS sh").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return verify_sets(bucket_pairs(bands_from_codes(c)), s, s, 0.7)


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint) winnow selection with the codes boundary
    (the sliding-window transform references codes per window; inlined
    it re-runs the md5 pass per window — quadratic in doc length)."""
    from .operators.dedup import codes_table

    c = codes_table(_docs(spark, sf_dir), pt.token_codes("text", SPARK))
    w = 4
    # cheap-sequence generator; the window-min computed above the
    # explode (an expensive generator expression re-evaluates per
    # generated row — same fix as operators.dedup.minhash_bands)
    return (
        c.select(
            "doc_id", "codes",
            F.explode(
                F.expr(f"sequence(1, greatest(size(codes) - {w - 1}, 1))")
            ).alias("i"),
        )
        .selectExpr("doc_id", f"array_min(slice(codes, i, {w})) AS fingerprint")
        .distinct()
    )


def text_winnow_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_text_winnow. Same rows as the SQL."""
    return _winnow_fps(spark, sf_dir)


def text_winnow_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator variant of sql_text_winnow_pairs: persists the CAPPED
    fingerprint table once, so the winnow selection (the expensive
    md5 + sliding-window pass) runs one time instead of once per join
    leg (the SQL template recomputes the CTE 4×: two pair sides + two
    n_fp joins). Same rows as the template/oracle."""
    from pyspark import StorageLevel
    from pyspark.sql import Window, functions as F

    register_views(spark, sf_dir)
    cap = 20
    fps = _winnow_fps(spark, sf_dir)

    capped = (
        fps.withColumn("df", F.count("*").over(Window.partitionBy("fingerprint")))
        .where(F.col("df") <= cap)
        .drop("df")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = capped.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .join(n.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "na"), "doc_a")
        .join(n.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.round(
                F.col("shared_fps").cast("double") / F.least("na", "nb"), 4
            ).alias("containment"),
        )
    )


def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution — the stage after candidate pairs
    that an actual corpus dedup needs (pairs alone leave transitive
    dups alive: A~B, B~C, A≁C ⇒ C survives a pairwise keep rule).

    Feeds the MinHash candidate pairs into alternating large-star/
    small-star connected components (all equi-joins, O(log n) rounds)
    and emits one row per corpus doc: (doc_id, cluster_id = min doc_id
    of the component, cluster_size, keep = is-canonical). Oracle: the
    same pair template + a DuckDB recursive CTE that propagates min
    labels along edges.

    CC input is the per-bucket STAR edge set (minhash_star_edges),
    not the all-pairs clique expansion: the LSH relation is a union
    of bucket cliques, and a clique's components equal a star's on
    its min member — identical output (the oracle keeps the pair
    form), O(Σ|B|) instead of O(Σ|B|²) edges (20k vs 6.5M at sf0.1,
    and the quadratic form is un-runnable on a 10^12-doc hot
    template bucket)."""
    from .operators.dedup import dedup_clusters, minhash_star_edges

    docs = _docs(spark, sf_dir)
    return dedup_clusters(docs, minhash_star_edges(docs))


def _oracle_dedup_clusters(d: str) -> str:
    """Recursive min-label reachability: a (id, r) row means node r
    reaches node id; pruning r < v keeps only downward label flow
    (the component min still reaches every member), then min(r) per
    id is the cluster label.

    Oracle-scale note: the reach fixpoint is O(V·E) intermediate rows
    — fine at the sf0.01 gate (67k pairs / 500 docs, ~30 s), but the
    synthetic corpus's shared vocabulary makes sf0.1 degenerate
    (6.46M pairs over 5000 docs, one 4,992-doc near-clique), where
    this CTE is pathological. The SPARK side is linear per star round
    and was verified at sf0.1 against an independent union-find:
    5000/5000 rows exact (NOTES_r3.md)."""
    pairs = sql_dedup_minhash_pairs(d)
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v AS id, reach.r AS r
        FROM reach JOIN edges e ON e.u = reach.id
        WHERE reach.r < e.v
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS keep
    FROM labels
    """


def dedup_clusters_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC operator composed with the SECOND candidate generator:
    clusters over the SimHash Hamming≤2 pair graph. Same large-star/
    small-star kernel, different (sparser) edge distribution — proves
    the cluster-resolution stage is generator-agnostic."""
    from .operators.dedup import dedup_clusters, simhash_hamming_pairs

    docs = _docs(spark, sf_dir)
    pairs = simhash_hamming_pairs(docs)
    return dedup_clusters(docs, pairs)


def _oracle_dedup_clusters_simhash(d: str) -> str:
    pairs = sql_dedup_simhash_hamming(d)
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v AS id, reach.r AS r
        FROM reach JOIN edges e ON e.u = reach.id
        WHERE reach.r < e.v
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS keep
    FROM labels
    """


def text_dup_ngrams_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_text_dup_ngrams per the PLANS.md
    CollapseProject rule: the SQL template's CTE is referenced twice
    (df side + join side), so Catalyst inlines the md5 5-gram shingle
    pass into BOTH branches (verified: 2 Generate nodes, 4 md5
    expression sites). Persisting the exploded (doc_id, sh) projection
    runs the expensive hash pass once — at the lake this projection is
    the materialized shingle table every sketch consumer shares.
    Same rows as the template/oracle."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from .functions import portable as _pt

    codes = _pt.arr_distinct(_pt.shingle_codes("text", SPARK, n=5), SPARK)
    # persist the ARRAY projection and explode from the cache: an
    # expensive expression in the generator position is re-evaluated
    # per generated row (see operators.dedup.bands_from_codes), and the cached
    # array form costs one scan of the spread input
    arr = _docs(spark, sf_dir).select(
        "doc_id", F.expr(codes).alias("shs")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    s = arr.select("doc_id", F.explode("shs").alias("sh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    df_counts = s.groupBy("sh").agg(F.count("*").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        s.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup.alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(
                F.col("n_dup_shingles").cast("double") / F.col("n_shingles"), 4
            ).alias("dup_frac"),
        )
    )


def dedup_clusters_winnow_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC operator composed with the THIRD candidate generator:
    clusters over the winnowing shared-fingerprint pair graph
    (containment ≥ 0.5 — winnow pairs carry a containment score, so
    the edge set is the *verified* subset, unlike the raw band-bucket
    generators). Same large-star/small-star kernel; proves the
    cluster-resolution stage composes with a scored pair source, the
    shape a production near-dup pipeline actually feeds it."""
    from pyspark.sql import functions as F

    from .operators.dedup import dedup_clusters

    docs = _docs(spark, sf_dir)
    pairs = text_winnow_pairs_query(spark, sf_dir).where(F.col("containment") >= 0.5)
    return dedup_clusters(docs, pairs)


def _oracle_dedup_clusters_winnow(d: str) -> str:
    pairs = sql_text_winnow_pairs(d)
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT * FROM ({pairs}) t WHERE containment >= 0.5
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v AS id, reach.r AS r
        FROM reach JOIN edges e ON e.u = reach.id
        WHERE reach.r < e.v
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS keep
    FROM labels
    """


def dedup_simhash_hamming_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-operator variant of sql_dedup_simhash_hamming:
    persists the (id, simhash) projection so the md5 token-hash pass
    runs once instead of once per self-join side. Same rows as the
    SQL template/oracle."""
    from .operators.dedup import simhash_hamming_pairs

    docs = _docs(spark, sf_dir)
    return simhash_hamming_pairs(docs)


def dedup_semantic_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_dedup_semantic: the assignment
    projection e = (vec_id, q, nrm, cell) is referenced THREE times
    (pair sides a and b, plus the output left join) and Spark
    evaluates the CTE per reference — persist it once. Built in the
    DataFrame API from the SAME df object: a persisted temp view
    referenced from inside a `WITH` body is not cache-substituted on
    Spark 4.1 (plan evidence: PLANS.md, dedup_semantic). At a lake this
    projection is the bucketed-by(cell) table SemDeDup reads.
    Same rows as the template."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    src = _emb_spread_view(spark, sf_dir)
    e = spark.sql(_semantic_e_sql(SPARK, source=src)).persist(StorageLevel.MEMORY_AND_DISK)
    a = e.select(
        F.col("cell"),
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("aq"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("bq"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.expr(
        "aggregate(zip_with(aq, bq, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"
    )
    dropped = (
        a.join(b, ["cell"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(F.col("b_id").alias("vec_id"), dot.alias("dot"), "nrm_a", "nrm_b")
        .where((F.col("dot") > 0) & (F.col("dot") * F.col("dot") * F.lit(10000) >= F.lit(900) * F.col("nrm_a") * F.col("nrm_b")))
        .select("vec_id")
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return e.join(dropped, ["vec_id"], "left").select(
        "vec_id",
        "cell",
        F.when(F.col("is_dropped").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


def ann_pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_ann_pq_topk: the (vec_id, m, dim,
    val) subvector table is read FOUR times (seed extraction, two
    assignment rounds, the query LUT) and Spark evaluates the CTE per
    reference — persist it once. Same rows as the template."""
    from pyspark import StorageLevel

    register_views(spark, sf_dir)
    # NOT spread: A/B-measured slower here (1.75 s plain vs 2.18 s
    # spread steady) — the PQ pipeline is ~15 tiny aggregate stages
    # whose cost is scheduling, and a 32-partition subd cache only
    # multiplies tasks per stage at this table size
    subd = spark.sql(_pq_subd_sql(SPARK)).persist(StorageLevel.MEMORY_AND_DISK)
    subd.createOrReplaceTempView("pq_subd")
    return spark.sql(sql_ann_pq_topk(SPARK, subd_source="pq_subd"))


def text_bm25_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_text_bm25: the (doc_id, dl, tf*)
    projection — the expensive token pass — persists ONCE instead of
    running for the stats aggregate AND the scoring scan (the CTE is
    evaluated per reference; measured ~2× at sf0.1). Same rows as the
    template; the DuckDB oracle keeps the inline CTE."""
    from pyspark import StorageLevel

    register_views(spark, sf_dir)
    t = spark.sql(_bm25_t_sql(SPARK)).persist(StorageLevel.MEMORY_AND_DISK)
    t.createOrReplaceTempView("bm25_t")
    return spark.sql(sql_text_bm25(SPARK, t_source="bm25_t"))


def text_tfidf_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_text_tfidf_terms: the per-(doc, term)
    tf table persists once (referenced by the df aggregate and the
    scoring join). Same rows as the template."""
    from pyspark import StorageLevel

    register_views(spark, sf_dir)
    tf = spark.sql(_tfidf_tf_sql(SPARK)).persist(StorageLevel.MEMORY_AND_DISK)
    tf.createOrReplaceTempView("tfidf_tf")
    return spark.sql(sql_text_tfidf_terms(SPARK, tf_source="tfidf_tf"))


def _pack_sequences_frame(
    spark: SparkSession,
    counts: DataFrame,
    bucket_width: int = 256,
    seq_len: int = 2048,
) -> DataFrame:
    """Distributed two-phase prefix sum over a ``(doc_id, n_tokens)``
    frame — the packing-manifest cumsum WITHOUT a single-reducer
    window (VERDICT r4: the SQL template's global ``sum() OVER (ORDER
    BY doc_id)`` plans ``Exchange SinglePartition → Sort → Window``
    over the entire corpus, funneling every row through one task at
    exactly the 10^12-doc scale the manifest exists for).

    Phase 1: bucket docs by ``doc_id div bucket_width`` and take
    per-bucket token totals — one combinable aggregate, N/B rows.
    The width is AUTO-SIZED from one cheap max(doc_id) on the cached
    input — ``max(bucket_width, ceil((max_id+1)/10^6))`` — so the
    phase-2 collect is capped at ~10^6 rows by construction at any
    corpus size (the width only changes the grouping; ``start_off``
    is the global cumsum either way, bit-identical for any B).
    Phase 2: cumulate the tiny bucket totals on the DRIVER (the same
    class of bounded driver probe as lineage metadata, not a data
    collect) and broadcast-join the bucket base offsets back.
    Phase 3: within-bucket running sums via a window PARTITIONed BY
    bucket — parallel over buckets, no global exchange.

    Output is bit-identical to the single-window formulation (the
    DuckDB oracle keeps it); the executed plan has no
    ``Exchange SinglePartition`` feeding a Window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pyspark import StorageLevel

    # persist BEFORE the phase-1 collect: the returned phase-3 frame
    # re-reads the same counts, and for corpus_pack_bpe that input is
    # a full-corpus mapInPandas BPE encode — unpersisted, the
    # heaviest stage of the query runs twice (once for the bucket
    # totals, once for the caller's action)
    base = counts.persist(StorageLevel.MEMORY_AND_DISK)
    # auto-size the bucket width (VERDICT r5 nit): the phase-2 driver
    # collect is #buckets ≈ (max_id+1)/width rows, so derive the
    # width from one cheap max() on the cached counts to cap the
    # collect at ~10^6 rows BY CONSTRUCTION at any corpus size
    # (width only changes the grouping; start_off is the global
    # cumsum either way, so the output is bit-identical for any B)
    max_id = base.agg(F.max("doc_id").alias("m")).collect()[0]["m"] or 0
    bucket_width = max(bucket_width, -(-(int(max_id) + 1) // 1_000_000))
    t = base.withColumn("__bkt", F.expr(f"doc_id div {bucket_width}"))
    totals = sorted(
        t.groupBy("__bkt").agg(F.sum("n_tokens").alias("bt")).collect(),
        key=lambda r: r["__bkt"],
    )
    offs, run = [], 0
    for r in totals:
        offs.append((int(r["__bkt"]), run))
        run += int(r["bt"])
    off_df = spark.createDataFrame(offs, "__bkt bigint, __bkt_off bigint")
    w = (
        Window.partitionBy("__bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        t.join(F.broadcast(off_df), "__bkt")
        .withColumn(
            "start_off",
            (
                F.sum(F.col("n_tokens").cast("bigint")).over(w)
                + F.col("__bkt_off")
                - F.col("n_tokens")
            ).cast("bigint"),
        )
        .drop("__bkt", "__bkt_off")
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "start_off",
        F.expr(f"start_off div {seq_len}").alias("seq_first"),
        F.expr(f"(start_off + n_tokens - 1) div {seq_len}").alias("seq_last"),
        F.expr(
            f"start_off div {seq_len} <> (start_off + n_tokens - 1) div {seq_len}"
        ).alias("straddles"),
    )


def text_dedup_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator form of sql_text_dedup_spans: the template keeps its
    rebuilt text lowercased, so the docs are lowercased first and then
    run through :func:`~gluon_ocr_spark.operators.textstats.remove_dup_spans`
    (K=8) — the same shape as text_dedup_spans_sa_query. The DuckDB
    oracle keeps the template's inline CTEs."""
    from pyspark.sql import functions as F

    from .operators.textstats import remove_dup_spans

    docs = _docs(spark, sf_dir).select("doc_id", F.lower(F.col("text")).alias("text"))
    out = remove_dup_spans(docs, counts_col="n_kept_tokens")
    return out.select("doc_id", F.col("text").alias("cleaned_text"), "n_kept_tokens")


def dedup_token_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_dedup_token_jaccard: EXACT set-
    similarity join via PREFIX FILTERING (Bayardo et al. "Scaling Up
    All Pairs Similarity Search" / PPJoin) instead of the template's
    O(n²)-per-block self-join — same pair set, proven by the
    unchanged brute-force DuckDB oracle.

    Theorem used: order every doc's distinct tokens by a GLOBAL total
    order (document frequency ascending, token as tie-break — rarest
    first). If J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so the smallest
    shared token must lie within the first |A| - ⌈t·|A|⌉ + 1 tokens
    of A — and symmetrically of B. Equi-joining only those ~(1-t)
    prefixes on (lang, token) therefore finds EVERY qualifying pair;
    an exact verify on the candidates removes false positives.
    Candidate blow-up is bounded because prefix tokens are by
    construction the RAREST — the join key distribution is the
    anti-skew tail. Plus the length filter 5·na ≥ 4·nb (J ≥ 0.8 ⟹
    |A| ≥ 0.8·|B|).

    Scale shape: one explode shuffle for df (the shared token-stats
    projection), one per-doc rank window, a rare-key equi-join, and a
    candidate-only verify — the same candidate→verify discipline as
    the minhash path, but EXACT instead of probabilistic. This
    retires the O(n²) label while keeping the query's role as
    dedup_lsh_recall's ground truth (the oracle stays brute-force)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.dedup import verify_sets

    ts = pt.arr_distinct(pt.tokens("text", SPARK), SPARK)
    docs = _docs(spark, sf_dir)
    s = docs.select(
        "doc_id", "lang", F.expr(ts).alias("ts")
    ).withColumn("na", F.expr("size(ts)")).persist(StorageLevel.MEMORY_AND_DISK)
    ex = s.select("doc_id", "lang", "na", F.explode("ts").alias("tok"))
    dfreq = ex.groupBy("lang", "tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    # prefix length = na - ceil(0.8*na) + 1; ceil(4*na/5) = (4*na+4) div 5
    prefix = (
        ex.join(dfreq, ["lang", "tok"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.expr("rk <= na - ((4 * na + 4) div 5) + 1"))
        .select("lang", "tok", "doc_id", "na")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.col("a.na") >= 4 * F.col("b.na"))
            & (5 * F.col("b.na") >= 4 * F.col("a.na")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verify on candidates only
    sets = s.select("doc_id", "ts")
    return verify_sets(cand, sets, sets, 0.8)


def corpus_pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator override of sql_corpus_pack_sequences: same rows as
    the template/oracle, computed by the scale-safe two-phase prefix
    sum (see :func:`_pack_sequences_frame`) instead of the template's
    global single-reducer window."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    toks = pt.tokens("text", SPARK)
    n = pt.arr_size(toks, SPARK)
    counts = spark.sql(f"SELECT doc_id, {n} AS n_tokens FROM documents")
    return _pack_sequences_frame(spark, counts)


def _bpe_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens) with REAL corpus-trained BPE counts:
    merges trained once on the driver over a deterministic
    hash-threshold sample (train_bpe_on_corpus), broadcast to
    executors (S10 weights pattern), applied in an Arrow-batched
    mapInPandas over a pruned projection — map-only, zero shuffle.
    This is the budgeting currency a real pretraining pipeline uses;
    the regex pre-token count (text_bpe_tokens) UNDER-approximates it
    (one regex hit may be several BPE tokens)."""
    import pandas as pd

    from .kernels.bpe import build_ranks, build_vocab, encode_ids
    from .operators.textstats import train_bpe_on_corpus

    docs = _docs(spark, sf_dir)
    merges = train_bpe_on_corpus(docs, n_merges=50)
    bc = spark.sparkContext.broadcast(merges)

    def gen(batches):
        ranks = build_ranks(bc.value)
        vocab = build_vocab(bc.value)
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "lang": b["lang"],
                    "n_tokens": [len(encode_ids(t, ranks, vocab)) for t in b["text"]],
                }
            )

    return docs.select("doc_id", "lang", "text").mapInPandas(
        gen, schema="doc_id bigint, lang string, n_tokens bigint"
    )


def corpus_pack_bpe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_pack_sequences fed by REAL BPE token counts (VERDICT r4
    item 5): same two-phase distributed prefix-sum manifest
    (:func:`_pack_sequences_frame`, no SinglePartition window), but
    the per-doc token count is the corpus-trained broadcast-merges
    BPE count instead of the regex pre-token approximation. The merge
    loop is not SQL-expressible, so this entry takes the driver's
    rows-only check (exactness of the counts themselves is gated by
    the kernel_bpe fixture family; the packing math is gated exact by
    corpus_pack_sequences)."""
    counts = _bpe_doc_counts(spark, sf_dir).select("doc_id", "n_tokens")
    return _pack_sequences_frame(spark, counts)


def corpus_mix_bpe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_mix_allocation fed by REAL BPE token counts: identical
    largest-remainder budget math (sums to the budget bit-for-bit),
    with per-language totals aggregated from the broadcast-merges
    mapInPandas count. Rows-only at the gate (BPE not
    SQL-expressible); the allocation arithmetic itself is gated exact
    by corpus_mix_allocation."""
    budget = 1_000_000
    counts = _bpe_doc_counts(spark, sf_dir)
    counts.createOrReplaceTempView("bpe_counts")
    return spark.sql(f"""
    WITH lt AS (
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
        FROM bpe_counts GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total FROM lt),
    base AS (
        SELECT lang, lang_tokens,
               ({budget} * lang_tokens) div total AS floor_alloc,
               ({budget} * lang_tokens) % total AS remainder,
               {budget} - CAST(sum(({budget} * lang_tokens) div total)
                   OVER () AS BIGINT) AS leftover
        FROM lt CROSS JOIN tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, lang) AS rk
        FROM base
    )
    SELECT lang, lang_tokens, floor_alloc,
           floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens
    FROM ranked
    """)


def _web_query_persisted(tmpl) -> Callable[[SparkSession, str], DataFrame]:
    """Spark-side twin of a web_* SQL template with the raw-URL
    synthesis PERSISTED before the parse (VERDICT r3: the collapsed
    synth+parse projection exceeded janino's 64 KB method limit on
    the join-heavy robots filter — Spark fell back to interpreted
    rows). The persist is a codegen/CollapseProject boundary: the
    synth CASE-chain compiles in its own stage, the parse references
    the tiny (doc_id, url) attribute. Same rows as the template; the
    DuckDB oracle keeps the single inline CTE."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark import StorageLevel

        register_views(spark, sf_dir)
        raw = spark.sql(
            f"SELECT doc_id, {_raw_url_expr(SPARK)} AS url FROM documents"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        raw.createOrReplaceTempView("web_raw_urls")
        return spark.sql(tmpl(SPARK, raw_source="web_raw_urls"))

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _sql_query(tmpl) for name, tmpl in SQL_QUERIES.items()
    }
    out["dedup_minhash_pairs"] = dedup_minhash_pairs_query
    out["dedup_simhash_hamming"] = dedup_simhash_hamming_query
    out["dedup_clusters"] = dedup_clusters_query
    out["dedup_clusters_simhash"] = dedup_clusters_simhash_query
    out["dedup_clusters_winnow"] = dedup_clusters_winnow_query
    out["text_winnow_pairs"] = text_winnow_pairs_query
    out["text_dup_ngrams"] = text_dup_ngrams_query
    # operator overrides of md5-heavy SQL templates: same rows, but a
    # persisted codes projection stops CollapseProject from inlining
    # the hash pass into every sketch expression (6.7× at sf0.1)
    out["text_fingerprint"] = text_fingerprint_query
    out["text_winnow"] = text_winnow_query
    out["dedup_minhash_bands"] = dedup_minhash_bands_query
    out["dedup_shingle_minhash"] = dedup_shingle_minhash_query
    out["dedup_simhash"] = dedup_simhash_query
    out["events_unpivot"] = events_unpivot_query
    out["extract_roundtrip"] = extract_roundtrip_query
    out["extract_pdf_roundtrip"] = extract_pdf_roundtrip_query
    out["corpus_prep_roundtrip"] = corpus_prep_roundtrip_query
    out["corpus_prep_dedup"] = corpus_prep_dedup_query
    out["dedup_incremental"] = dedup_incremental_query
    out["text_dedup_spans_sa"] = text_dedup_spans_sa_query
    out["text_repeat_mass"] = text_repeat_mass_query
    out["text_bpe_merged"] = text_bpe_merged_query  # rows-only (no SQL oracle)
    out["text_bm25"] = text_bm25_query
    out["ann_pq_topk"] = ann_pq_topk_query
    out["dedup_semantic"] = dedup_semantic_query
    out["text_tfidf_terms"] = text_tfidf_terms_query
    out["text_dedup_spans"] = text_dedup_spans_query
    out["dedup_token_jaccard"] = dedup_token_jaccard_query
    out["corpus_pack_sequences"] = corpus_pack_sequences_query
    # rows-only entries (BPE merge loop is not SQL-expressible)
    out["corpus_pack_bpe"] = corpus_pack_bpe_query
    out["corpus_mix_bpe"] = corpus_mix_bpe_query
    # codegen-split overrides (persisted raw URL projection; see
    # _web_query_persisted) — same rows as the SQL templates
    out["web_url_canonical"] = _web_query_persisted(sql_web_url_canonical)
    out["web_url_dedup"] = _web_query_persisted(sql_web_url_dedup)
    out["web_robots_filter"] = _web_query_persisted(sql_web_robots_filter)
    out["web_domain_stats"] = _web_query_persisted(sql_web_domain_stats)
    out["web_skew_salt_plan"] = _web_query_persisted(sql_web_skew_salt_plan)
    out["extract_lines"] = extract_lines_query
    out["extract_stats"] = extract_stats_query
    out["events_session_window_native"] = events_session_window_native
    from .operators.kernel_queries import kernel_queries

    out.update(kernel_queries())
    # Enumerate never-driver-recorded entries FIRST: the external
    # correctness gate samples ~50 queries per round head-first, and
    # across rounds 1-4 its union covered 80 of the (then) 118 — the
    # entries below the cap rested on local judge runs only. Putting
    # the never-sampled names at the head gets them driver rows
    # without changing any query's semantics (VERDICT r4 item 4).
    head = {k: v for k, v in out.items() if k not in _DRIVER_RECORDED_R1_R4}
    head.update({k: v for k, v in out.items() if k in _DRIVER_RECORDED_R1_R4})
    return head


#: Query names with at least one gate row in CORRECTNESS_r01-r04.json
#: (union computed from the committed receipts, 2026-08-17).
_DRIVER_RECORDED_R1_R4 = frozenset({
    "ann_filtered_topk", "ann_ivf_nprobe2", "ann_ivf_topk",
    "ann_lsh_buckets", "ann_lsh_topk", "ann_topk",
    "corpus_decontaminate", "corpus_sample_stratified", "cube_order_mix",
    "dedup_embedding_cosine", "dedup_exact", "dedup_minhash_bands",
    "dedup_minhash_pairs", "dedup_shingle_minhash", "dedup_simhash",
    "dedup_simhash_hamming", "dedup_token_jaccard", "emb_label_centroids",
    "events_asof_signup", "events_funnel", "events_hourly",
    "events_pivot_types", "events_quantiles", "events_retention",
    "events_session_window_native", "events_sessionize", "events_unpivot",
    "events_user_daily", "extract_lines", "extract_roundtrip",
    "extract_stats", "kernel_attention_decode", "kernel_crnn_ctc",
    "kernel_ctc_decode", "kernel_dbnet_boxes", "kernel_det_metrics",
    "kernel_east_boxes", "kernel_labelgen", "kernel_nms",
    "kernel_recog_metrics", "kernel_resize_plan", "kernel_soft_nms",
    "multimodal_meta", "q10_returned_items", "q13_customer_distribution",
    "q14_promo_share", "q18_large_orders", "q1_pricing_summary",
    "q22_idle_customers", "q2_top_supplier_balance", "q3_shipping_priority",
    "q4_order_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "recog_bucket_keys", "rollup_returns", "set_ops_users",
    "sketch_cms_tokens", "sketch_kmv_distinct", "supplier_part_volume",
    "text_bigram_rarity", "text_bpe_tokens", "text_dup_ngrams",
    "text_fingerprint", "text_lang_id", "text_pii_scrub", "text_quality",
    "text_repetition", "text_stats", "text_winnow", "text_winnow_pairs",
    "top_customers_window", "web_domain_stats", "web_pagerank",
    "web_robots_filter", "web_url_canonical", "web_url_dedup",
})


def oracle_sql() -> dict[str, str]:
    out = {name: tmpl(DUCK) for name, tmpl in SQL_QUERIES.items()}
    out["extract_roundtrip"] = "SELECT doc_id, text FROM documents"
    out["extract_pdf_roundtrip"] = "SELECT doc_id, text FROM documents"
    out["corpus_prep_roundtrip"] = _oracle_corpus_prep(DUCK)
    out["corpus_prep_dedup"] = _oracle_corpus_prep_dedup(DUCK)
    out["dedup_incremental"] = _oracle_dedup_incremental(DUCK)
    out["text_dedup_spans_sa"] = _oracle_text_dedup_spans_sa(DUCK)
    out["text_repeat_mass"] = _oracle_text_repeat_mass(DUCK)
    out["extract_lines"] = _oracle_extract_lines(DUCK)
    out["extract_stats"] = _oracle_extract_stats(DUCK)
    out["events_session_window_native"] = _oracle_session_window(DUCK)
    out["events_unpivot"] = _oracle_events_unpivot(DUCK)
    out["dedup_clusters"] = _oracle_dedup_clusters(DUCK)
    out["dedup_clusters_simhash"] = _oracle_dedup_clusters_simhash(DUCK)
    out["dedup_clusters_winnow"] = _oracle_dedup_clusters_winnow(DUCK)
    from .operators.kernel_queries import kernel_oracles

    out.update(kernel_oracles())
    return out
