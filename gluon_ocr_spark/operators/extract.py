"""Distributed main-content extraction (the flagship operator).

Spark lifecycle (SURVEY §3.1 "Spark lifecycle replacement"):

    pages scan → select(url, html)          # manual column prune: never
                                            # drag text/lang through Arrow
          → salt repartition (skew)         # operators.partitioning
          → mapInPandas(_extract_batches)   # kernels.extract per page
          → docs / lines DataFrames
          → sink + lineage commit           # plans.lineage

The UDF body is exactly :func:`gluon_ocr_spark.kernels.extract.
extract_document` — the same function the single-process oracle runs —
so per-url output is byte-identical to the oracle by construction and
independent of partitioning (each page is processed alone; no
cross-row state, unlike the reference's batch-composition-dependent
LSTM trap, SURVEY §2.9.1, which this engine deliberately avoids).

Performance note (measured, see BENCH/BASELINE.md): span columns are
**parallel primitive arrays**, not ``array<struct<...>>`` — pandas→
Arrow struct conversion walks per-row Python dicts and measured 2.5×
slower end-to-end (4.7k → 11.8k docs/s at local[32]). `lines` is
recovered relationally via ``posexplode`` + ``arrays_zip``; nothing
re-parses.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..kernels.blocks import DEFAULT_CONFIG, ExtractionConfig
from ..kernels.extract import extract_document
from .partitioning import salt_partition

# docs: one row per page; span data as parallel arrays (see module note).
# NO line_texts array: doc text already contains every line byte
# ('\n'.join contract), so shipping per-line copies through the Arrow
# UDF edge doubled the payload — lines are recovered relationally via
# substring(text, start+1, end-start) in docs_to_lines (code-point
# exact in both engines; pinned by test_extract_parity).
DOCS_SCHEMA = (
    "url string, text string, n_lines int, n_chars int, "
    "starts array<int>, ends array<int>, scores array<float>, "
    "tags array<string>, dom_orders array<int>"
)

_COLS = ("url", "text", "n_lines", "n_chars", "starts", "ends", "scores", "tags", "dom_orders")


def _extract_batches(
    batches: Iterator[pd.DataFrame], cfg: ExtractionConfig = DEFAULT_CONFIG, carry: tuple[str, ...] = ()
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in _COLS}
        for url, payload in zip(pdf["url"], pdf["html"]):
            res = extract_document(payload if payload is not None else b"", cfg)
            ls = res.lines
            out["url"].append(url)
            out["text"].append(res.text)
            out["n_lines"].append(len(ls))
            out["n_chars"].append(len(res.text))
            out["starts"].append([ln.start for ln in ls])
            out["ends"].append([ln.end for ln in ls])
            out["scores"].append([ln.score for ln in ls])
            out["tags"].append([ln.tag for ln in ls])
            out["dom_orders"].append([ln.order for ln in ls])
        for c in carry:
            out[c] = pdf[c].to_numpy()
        yield pd.DataFrame(out)


def extract_docs(
    pages: DataFrame,
    num_partitions: int | None = None,
    carry: tuple[str, ...] = (),
    cfg: ExtractionConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """pages(url, html, …) → docs(url, text, n_lines, n_chars, span
    arrays, *carry).

    Column-prunes to (url, html, *carry) BEFORE the UDF edge — Catalyst
    cannot see into the UDF, so the projection must be explicit (SURVEY
    §4 predicate-ordering row). ``carry`` names input columns passed
    through unchanged, e.g. the ``warc_ts`` event time a streaming
    watermark needs downstream; keep them light, they cross the Arrow
    edge twice. ``cfg`` ships to executors in the UDF closure (the
    config/weights-broadcast pattern — frozen, tiny, serialized once
    per task launch).
    """
    pruned = pages.select("url", "html", *carry)
    if num_partitions:
        pruned = salt_partition(pruned, num_partitions)
    schema = ", ".join([DOCS_SCHEMA, *(f"{c} {pruned.schema[c].dataType.simpleString()}" for c in carry)])
    if cfg is DEFAULT_CONFIG and not carry:
        fn = _extract_batches
    else:
        def fn(batches, _cfg=cfg, _carry=carry):  # noqa: ANN001 - Spark UDF signature
            return _extract_batches(batches, _cfg, _carry)

    return pruned.mapInPandas(fn, schema=schema)


def docs_to_lines(docs: DataFrame) -> DataFrame:
    """Explode the parallel span arrays into the `lines` table
    (FIXTURES §5 golden_lines shape) — pure relational, no second
    parse. line_text is sliced out of the doc text by span offsets
    (the T5 '\\n'.join contract guarantees text[start:end] IS the
    line), so the UDF edge never ships duplicate line bytes."""
    z = F.arrays_zip("starts", "ends", "scores", "tags", "dom_orders").alias("z")
    e = docs.select("url", "text", F.posexplode(z).alias("line_id", "s"))
    return e.select(
        "url",
        F.col("line_id").cast("int").alias("line_id"),
        F.col("s.starts").alias("start"),
        F.col("s.ends").alias("end"),
        F.col("s.scores").alias("score"),
        F.col("s.tags").alias("tag"),
        F.col("s.dom_orders").alias("dom_order"),
        F.expr("substring(text, s.starts + 1, s.ends - s.starts)").alias("line_text"),
    )


def extract_lines(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    return docs_to_lines(extract_docs(pages, num_partitions))
