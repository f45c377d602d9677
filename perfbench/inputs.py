"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same arguments
give byte-identical tables. Pages are built by the program's own
synthetic crawl generator (``sources.pages``); the ingest corpus is
built here, because the program has no generator with a realistic
vocabulary. Generation runs in this one process, with no worker
processes (a pool would leave its resource tracker running past the
run), and is never timed.
"""

from __future__ import annotations

import bisect
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

# ingest corpus shape (the shares a recurring crawl shows)
VOCAB_SIZE = 20_000
ZIPF_S = 1.1
NEAR_DUP_SHARE = 0.25  # edits of an earlier doc, ~3% of tokens replaced
NEAR_DUP_EDIT = 0.03
CASE_COPY_SHARE = 0.05  # exact copies of an earlier doc, case changed
SHORT_SHARE = 0.05  # below the 10-token quality gate
FRESH_TOKENS = (40, 160)
SHORT_TOKENS = (2, 8)

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("html", pa.binary()), ("text", pa.string())])


# -- crawl pages (extract_resume) -----------------------------------------

def _page_row(page_id: int, seed: int, payload: str) -> tuple[str, bytes, str]:
    """One crawl page: ``(url, payload, truth text)``. ``mixed`` makes
    odd page ids real PDFs of the truth text, as
    ``sources.pages.pages_dataframe(payload="mixed")`` does."""
    from gluon_ocr_spark.kernels.pdf import encode_pdf
    from gluon_ocr_spark.sources.pages import make_page

    p = make_page(page_id, seed)
    body = p["html"]
    if payload == "mixed" and page_id % 2:
        runs = [(72.0, 740.0 - 14.0 * k, 10.0, line) for k, line in enumerate(p["text"].split("\n"))]
        body = encode_pdf([runs], xref_stream=page_id % 4 == 3)
    return p["url"], body, p["text"]


def _wrapped_row(doc_id: int, url: str, text: str) -> tuple[str, bytes, str]:
    from gluon_ocr_spark.sources.pages import wrap_text_as_page

    return url, wrap_text_as_page(doc_id, text), text


def _table(rows: list[tuple[str, bytes, str]]) -> pa.Table:
    url, html, text = zip(*rows) if rows else ((), (), ())
    return pa.Table.from_arrays(
        [pa.array(url, pa.string()), pa.array(html, pa.binary()), pa.array(text, pa.string())],
        schema=PAGES_SCHEMA,
    )


def crawl_pages(seed: int, n: int, payload: str) -> pa.Table:
    """``n`` synthetic crawl pages ``(url, html, text)``; ``text`` is
    the ground truth extraction must return byte for byte."""
    return _table([_page_row(i, seed, payload) for i in range(n)])


def resume_half(seed: int, n: int) -> list[int]:
    """The page ids committed before the timed resume: a seed-chosen
    half, sorted."""
    return sorted(random.Random(seed ^ 0x5E5).sample(range(n), n // 2))


# -- ingest corpus (ingest_dedup) ------------------------------------------

def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(2, 10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def corpus_docs(seed: int, n: int) -> list[dict]:
    """``n`` single-line docs in arrival order, each
    ``{"doc_id", "url", "text", "kind"}`` with ``kind`` one of
    ``fresh`` / ``near`` / ``case`` / ``short``. Near and case copies
    point back at an earlier fresh doc, possibly in an earlier
    increment."""
    rng = random.Random(seed)
    vocab = _vocab(rng, VOCAB_SIZE)
    cum: list[float] = []
    acc = 0.0
    for r in range(1, VOCAB_SIZE + 1):
        acc += 1.0 / r**ZIPF_S
        cum.append(acc)

    def words(k: int) -> list[str]:
        return [vocab[min(bisect.bisect_left(cum, rng.random() * acc), VOCAB_SIZE - 1)] for _ in range(k)]

    docs: list[dict] = []
    fresh: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if fresh and r < NEAR_DUP_SHARE:
            toks = list(rng.choice(fresh))
            for j in rng.sample(range(len(toks)), max(1, round(len(toks) * NEAR_DUP_EDIT))):
                toks[j] = words(1)[0]
            kind, text = "near", " ".join(toks)
        elif fresh and r < NEAR_DUP_SHARE + CASE_COPY_SHARE:
            kind, text = "case", " ".join(rng.choice(fresh)).upper()
        elif r < NEAR_DUP_SHARE + CASE_COPY_SHARE + SHORT_SHARE:
            kind, text = "short", " ".join(words(rng.randint(*SHORT_TOKENS)))
        else:
            toks = words(rng.randint(*FRESH_TOKENS))
            fresh.append(toks)
            kind, text = "fresh", " ".join(toks)
        docs.append({"doc_id": i, "url": f"doc://s{seed}/{i:07d}", "text": text, "kind": kind})
    return docs


def corpus_pages(docs: list[dict]) -> pa.Table:
    """Wrap each doc in HTML chrome (``sources.pages.wrap_text_as_page``)."""
    return _table([_wrapped_row(d["doc_id"], d["url"], d["text"]) for d in docs])


def write_parquet(table: pa.Table, path: str, row_groups: int = 16) -> None:
    """Several row groups, so Spark's scan splits the file across slots."""
    pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))
