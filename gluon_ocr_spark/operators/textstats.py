"""Text-analysis operators, DataFrame API.

Same expression fragments as the SQL battery
(:mod:`gluon_ocr_spark.functions.portable`, Spark dialect), exposed as
composable DataFrame transforms. Everything stays JVM-side
(whole-stage codegen); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import portable as pt
from ..functions.portable import SPARK


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = pt.tokens(text_col, SPARK)
    n = pt.arr_size(toks, SPARK)
    return (
        df.withColumn("n_tokens", F.expr(n))
        .withColumn("n_chars", F.length(text_col))
        .withColumn("n_distinct_tokens", F.expr(pt.arr_size(pt.arr_distinct(toks, SPARK), SPARK)))
        .withColumn("avg_token_len", F.round(F.expr(f"cast(length({text_col}) - ({n} - 1) as double) / {n}"), 4))
    )


def with_quality(df: DataFrame, text_col: str = "text", stopwords: tuple[str, ...] | None = None) -> DataFrame:
    from ..queries import _STOPWORDS

    stopwords = stopwords or _STOPWORDS
    toks = pt.tokens(text_col, SPARK)
    lit = ", ".join(f"'{w}'" for w in stopwords)
    nstop = pt.arr_size(pt.arr_filter(toks, f"t -> array_contains(array({lit}), t)", SPARK), SPARK)
    n = pt.arr_size(toks, SPARK)
    return (
        df.withColumn("stop_ratio", F.round(F.expr(f"cast({nstop} as double) / {n}"), 4))
        .withColumn("lexical_diversity", F.round(F.expr(f"cast({pt.arr_size(pt.arr_distinct(toks, SPARK), SPARK)} as double) / {n}"), 4))
        .withColumn("quality_ok", F.expr(f"({n} >= 10) AND ({n} <= 2000) AND ({nstop} > 0)"))
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 content hash + 16-bit simhash sketch."""
    codes = pt.token_codes(text_col, SPARK)
    return df.withColumn("content_fp", F.md5(F.lower(F.col(text_col)))).withColumn(
        "simhash16", F.expr(pt.simhash16_expr(codes, SPARK))
    )


# Tiny per-language stopword profiles for the n-gram/lexical lang-id
# heuristic. Public common function words; deliberately small — the
# operator's job is the Spark shape (score-per-language → argmax),
# accuracy scales with the table, not the code.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "fr": ("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es": ("el", "la", "los", "las", "es", "una", "para", "con", "que", "por"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "中"),
}


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: per-language stopword hit-rate → argmax
    (ties → lexicographic language order). Pure JVM expressions; the
    per-language scores become one struct-array max, no UDF."""
    toks = pt.tokens(text_col, SPARK)
    langs = sorted(LANG_PROFILES)
    scored = []
    for i, lang in enumerate(langs):
        lit = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        hits = pt.arr_size(pt.arr_filter(toks, f"t -> array_contains(array({lit}), t)", SPARK), SPARK)
        # tiebreak field: REVERSED index so array_max (field-by-field
        # struct compare) resolves equal scores to the FIRST language
        # in sorted order — the same rule as the SQL CASE-chain twin
        # (sql_text_lang_id), so both APIs classify identically
        scored.append(
            f"struct(cast({hits} as bigint) as score, {len(langs) - 1 - i} as tb, '{lang}' as lang)"
        )
    expr = f"array_max(array({', '.join(scored)})).lang"
    return df.withColumn("lang_pred", F.expr(expr))


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. A1.1) as PURE
    expressions — no explode, no shuffle, so the corpus-prep filter
    fuses into the same whole-stage-codegen pass as the other gates:

    * ``dup_bigram_frac`` — 1 − distinct/total word-2-grams;
    * ``consec_dup_frac`` — adjacent-duplicate-token rate.

    (The top-2-gram SHARE needs a per-doc mode and lives in the gated
    ``text_repetition`` query; the drop decision at corpus scale uses
    these shuffle-free columns.)

    Adjacent tokens are paired by ``zip_with`` over two slices of the
    token array, so no lambda body refers to the token-array
    expression (the :mod:`~gluon_ocr_spark.functions.portable` rule):
    the text is split a fixed number of times per doc and the signals
    are linear in its length, where an index lambda over
    ``element_at(<split>, i)`` re-splits it for every token."""
    toks = pt.tokens(text_col, SPARK)

    def pairs(lam: str) -> str:
        return (
            f"zip_with(slice({toks}, 1, size({toks}) - 1), "
            f"slice({toks}, 2, size({toks}) - 1), {lam})"
        )

    bigram = "(x, y) -> concat(x, ' ', y)"
    bg = f"CASE WHEN size({toks}) >= 2 THEN {pairs(bigram)} ELSE array() END"
    reps = (
        f"CASE WHEN size({toks}) >= 2 THEN size(filter({pairs('(x, y) -> x = y')}, z -> z)) "
        "ELSE 0 END"
    )
    return (
        df.withColumn("__bg", F.expr(bg))
        .withColumn(
            "dup_bigram_frac",
            F.when(
                F.expr("size(__bg)") > 0,
                F.round(
                    F.lit(1.0)
                    - F.expr("cast(size(array_distinct(__bg)) as double) / size(__bg)"),
                    4,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "consec_dup_frac",
            F.when(
                F.expr("size(__bg)") > 0,
                F.round(F.expr(f"cast({reps} as double) / size(__bg)"), 4),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__bg")
    )


def quality_gate(
    df: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_dup_bigram_frac: float = 0.9,
) -> DataFrame:
    """The corpus-prep gate: token stats → quality → repetition
    signals, keeping docs with ``min_tokens <= n_tokens <= max_tokens``,
    non-empty text, and ``dup_bigram_frac <= max_dup_bigram_frac``
    (the Gopher-rule repetition gate: boilerplate/spam drops here,
    before any dedup shuffle sees it). Pure expressions — the filter
    fuses into the same codegen stage as the signal columns."""
    docs = with_repetition(with_quality(with_token_stats(df)))
    return docs.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("n_chars") > 0)
        & (F.col("dup_bigram_frac") <= max_dup_bigram_frac)
    )


def compress_stats(text: str, level: int = 6) -> tuple[int, int, float]:
    """(raw_bytes, deflate_bytes, ratio) for one document — the
    compression-ratio quality signal (Gopher/CCNet family): highly
    repetitive or templated text compresses far below prose, random
    noise barely compresses at all. zlib level 6 is pinned; the
    output is deterministic for a given zlib, which the kernel-parity
    fixture (committed parquet + freshness pytest) pins per container.
    Shared verbatim by the Spark operator and the fixture oracle."""
    import zlib

    raw = text.encode("utf-8")
    comp = zlib.compress(raw, level)
    ratio = round(len(comp) / len(raw), 4) if raw else 1.0
    return len(raw), len(comp), ratio


def with_compress_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append (n_raw_bytes, n_deflate_bytes, compress_ratio) via an
    Arrow-batched UDF — zlib has no SQL expression form, so unlike its
    siblings this column set is mapInPandas; the kernel gate
    (kernel_compress_ratio) pins its distributed execution instead of
    a DuckDB oracle."""
    import pandas as pd

    out_schema = (
        ", ".join(f"`{c}` {t}" for c, t in zip(df.columns, (f.dataType.simpleString() for f in df.schema.fields)))
        + ", n_raw_bytes bigint, n_deflate_bytes bigint, compress_ratio double"
    )

    def gen(batches):
        for pdf in batches:
            stats = [compress_stats(t if isinstance(t, str) else "") for t in pdf[text_col]]
            pdf = pdf.copy()
            pdf["n_raw_bytes"] = [s[0] for s in stats]
            pdf["n_deflate_bytes"] = [s[1] for s in stats]
            pdf["compress_ratio"] = [s[2] for s in stats]
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    counts_col: str | None = None,
) -> DataFrame:
    """Span-level exact-substring dedup as a production transform
    (Lee et al.; the sql_text_dedup_spans template is the gated twin):
    REMOVES from every document the token spans whose ``k``-gram
    occurs in more than one document, returning the input frame with
    ``text_col`` rewritten (and empty-text rows for fully-duplicated
    docs). Any duplicated run ≥ k tokens is covered by its k-gram
    seeds; runs < k survive — the documented recall bound.

    Shape: position-carrying k-gram hashes (single scan, position
    explode + hash projection), df on the hash (count DISTINCT doc),
    gaps-and-islands interval merge of the covered [s, s+k) seed
    ranges as one fold over each doc's sorted seed starts, and the
    rebuild as one higher-order filter over the doc's own token
    array. Two shuffles; no token row ever leaves its doc; the k-gram
    projection is the shingle table the minhash family already
    materializes at scale.

    Case handling (ADVICE r4): duplicate DETECTION hashes the
    lowercased k-gram (matching sql_text_dedup_spans' recall), but
    the rebuild keeps the ORIGINAL-case tokens, and docs with zero
    covered spans are never rewritten — their text stays
    byte-identical to the input.

    ``counts_col`` appends the per-doc kept-token count (bigint) from
    the filtered token array, so a fully-duplicated doc reports 0. The
    text_dedup_spans query is this operator over lowercased text. Nothing
    is persisted, so repeated calls leave no cache entry behind.
    """
    # k-gram seeds via a CHEAP generator (sequence of positions) with
    # the md5 gram hash computed ABOVE the explode: an expensive
    # expression in the generator position is re-evaluated per
    # generated row (measured 12× on this exact pass; the same note
    # is on operators.dedup.bands_from_codes), while a projection over
    # the generated position runs once per gram.
    hexpr = pt.hex15("lower(concat_ws(' ', slice(w, s, %d)))" % k, SPARK)
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"split({text_col}, ' ')").alias("w"),
    )
    grams = (
        toks.where(F.expr(f"size(w) >= {k}"))
        .select("__id", "w", F.explode(F.expr(f"sequence(1, size(w) - {k - 1})")).alias("s"))
        .select("__id", "s", F.expr(f"{hexpr} % {pt.P}").alias("gh"))
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("__id").alias("ndocs"))
        .where(F.col("ndocs") > 1)
        .select("gh")
    )
    # gaps-and-islands interval merge as ONE fold over each doc's
    # sorted seed starts (identical rule to the former lag/cumsum
    # window: a seed extends the current range iff s - prev_seed <= k,
    # range end = last seed + k - 1), and the rebuild as one
    # higher-order filter over the doc's own token array — no
    # covered-position explode, no per-token anti-join shuffle, no
    # collect_list rebuild (guide §2.3/§2.4; text_dedup_spans runs
    # this operator, so its DuckDB oracle and the pinned tests prove
    # the fold row-identical to the template's window form).
    merged = (
        grams.join(dup, "gh")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "__id",
            F.expr(
                f"""aggregate(
                     ss,
                     named_struct('rs', cast(array() as array<int>),
                                  'ls', cast(array() as array<int>)),
                     (acc, s) -> if(size(acc.ls) = 0 OR s - element_at(acc.ls, -1) > {k},
                         named_struct('rs', concat(acc.rs, array(s)),
                                      'ls', concat(acc.ls, array(s))),
                         named_struct('rs', acc.rs,
                                      'ls', concat(slice(acc.ls, 1, size(acc.ls) - 1), array(s)))),
                     acc -> zip_with(acc.rs, acc.ls,
                                     (a, b) -> named_struct('rs', a, 're', b + {k - 1}))
                   )"""
            ).alias("__ranges"),
        )
    )
    out = df.join(merged, F.col(id_col) == F.col("__id"), "left").withColumn(
        "__kept",
        F.expr(
            f"filter(split({text_col}, ' '), (tok, i) -> __ranges IS NULL OR "
            f"NOT exists(__ranges, r -> i + 1 >= r.rs AND i + 1 <= r.re))"
        ),
    )
    if counts_col is not None:
        out = out.withColumn(counts_col, F.size("__kept").cast("bigint"))
    return out.withColumn(
        text_col,
        F.when(F.col("__ranges").isNull(), F.col(text_col)).otherwise(
            F.array_join("__kept", " ")
        ),
    ).drop("__id", "__ranges", "__kept")


def train_bpe_on_corpus(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    sample_mod: int = 1_000_000,
    sample_lt: int = 100_000,
) -> list[tuple[bytes, bytes]]:
    """Train the BPE merges table ON the corpus — the tokenizer-
    training step of a pretraining pipeline, done the way production
    systems do it: tokenizer training is inherently sequential (each
    merge depends on the global pair counts AFTER the previous
    merge), so it runs on a DETERMINISTIC sample collected to the
    driver (hash-threshold selection — rerunning on any partitioning
    selects the same documents; default keeps ~10%), and the
    resulting table is broadcast to executors for encoding
    (text_bpe_merged's S10 pattern). Training itself is
    order-independent (pair counts aggregate over the sample;
    ties break lexicographically), so the collected row order
    cannot leak into the merges."""
    from pyspark.sql import functions as F

    from ..kernels.bpe import train_merges

    sample = (
        df.select(F.col(text_col).alias("t"))
        .where(F.expr(f"pmod(xxhash64({text_col}), {sample_mod})") < sample_lt)
        .collect()
    )
    return train_merges([r["t"] for r in sample], n_merges)


def remove_dup_spans_sa(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 16,
    n_shards: int = 64,
    shard=None,
    counts_col: str | None = None,
) -> DataFrame:
    """SUFFIX-ARRAY span dedup (Lee et al.'s actual construction;
    VERDICT r4 stretch 9) as a sharded ``applyInPandas`` transform:
    within each shard, remove from every document the token positions
    covered by a cross-doc repeat of length >= ``min_len`` — found on
    a real suffix array (:mod:`gluon_ocr_spark.kernels.suffix`:
    prefix-doubling SA + Kasai LCP over the sentinel-separated shard
    corpus), not on materialized k-gram seeds.

    vs :func:`remove_dup_spans`: same covered-set semantics at equal
    threshold (a >= t repeat is the union of its t-window marks), but
    no per-position gram hashing or gram-table shuffle — one Arrow
    pass per shard, exact string equality (a hash collision can never
    mark a false span), and the threshold can be raised without
    recomputing a seed table. The trade is the shard boundary:
    duplicates split across shards are not seen (the standard sharded
    deployment of Lee et al. — run the global k-gram operator when
    cross-shard recall matters). Size shards so a shard's token
    stream fits an executor (10^12 docs / ~10^6 shards ≈ 10^6 docs a
    shard); the group-by is ONE shuffle of (id, text).

    Detection lowercases tokens (recall parity with the k-gram twin);
    the rebuild keeps original-case tokens, and docs with no covered
    span pass through byte-identical. ``shard`` overrides the default
    ``xxhash64(id) % n_shards`` grouping column; ``counts_col``
    appends the per-doc kept-token count."""
    import pandas as pd

    from pyspark.sql import functions as F

    if shard is None:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))

    out_schema = df.schema
    if counts_col is not None:
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            list(df.schema.fields) + [StructField(counts_col, LongType())]
        )
    in_cols = [f.name for f in df.schema.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels.suffix import build_corpus, cross_doc_dup_starts, keep_masks

        raw = pdf[text_col].tolist()
        # NULL text passes through untouched (count 0) — parity with
        # the k-gram twin, whose pure-SQL split propagates null
        orig = [t.split(" ") if isinstance(t, str) else [] for t in raw]
        low = [[w.lower() for w in doc] for doc in orig]
        seq, doc_of, pos_of = build_corpus(low)
        starts = cross_doc_dup_starts(seq, doc_of, min_len)
        texts = list(raw)
        counts = [len(doc) if isinstance(t, str) else 0 for doc, t in zip(orig, raw)]
        if len(starts):
            masks = keep_masks(starts, doc_of, pos_of, [len(d) for d in orig], min_len)
            for d, mask in enumerate(masks):
                if mask.all():
                    continue
                kept = [t for t, m in zip(orig[d], mask) if m]
                texts[d] = " ".join(kept)
                counts[d] = len(kept)
        out = pdf[in_cols].copy()
        out[text_col] = texts
        if counts_col is not None:
            out[counts_col] = pd.Series(counts, dtype="int64", index=out.index)
        return out

    return (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(lambda key, pdf: run(pdf.drop(columns=["__shard"])), schema=out_schema)
    )
