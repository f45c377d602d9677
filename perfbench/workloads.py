"""The benchmark workloads.

Each workload builds its inputs from the seed (untimed), builds the
prior state it needs during set-up, runs one timed job per repetition,
and checks every repetition's committed output against the generated
truth. ``probe`` gives the traced run's per-layer numbers: each layer's
public function is called from outside and run to a ``noop`` sink, and
a layer's own time is its probe minus the probe it builds on.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import inputs
from harness import Spark, median, slots, timed

KERNEL_SAMPLE = 2000  # pages run through the kernels in process, one thread


def _identity(batches):
    yield from batches


class Workload:
    name = ""
    pages_per_rep = 0

    def __init__(self, spark: Spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.num_partitions = 3 * slots()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    @property
    def session(self):
        return self.spark.session

    # lifecycle: make_inputs → (set-up) prior_state → warm → [reset → rep → check]*
    # (a traced run calls probe in place of one rep)
    def make_inputs(self) -> None:
        raise NotImplementedError

    def prior_state(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """The timed job once, untimed, on the restored prior state. One
        is enough: set-up already ran the program once."""
        self.reset()
        self.rep()

    def reset(self) -> None:
        """Restore the prior state."""
        raise NotImplementedError

    def rep(self) -> None:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """``(pages checked, pages failed)`` for output not yet checked."""
        raise NotImplementedError

    def probe(self, tracer) -> dict[str, float]:
        raise NotImplementedError

    # -- shared probes ----------------------------------------------------
    def _probe(self, tracer, name: str, build) -> float:
        """Time ``build()`` and running the frame it returns to a noop
        sink, under job group ``name``. Building is timed too: some
        operators run Spark actions while they build their plan."""
        sc = self.session.sparkContext
        sc.setJobGroup(name, name)
        try:
            with tracer.span(name):
                return timed(lambda: self.spark.noop(build()))[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _kernel_rates(self, payloads: list[bytes]) -> dict[str, float]:
        """Single-thread, in-process kernel rates over a fixed sample."""
        from gluon_ocr_spark.kernels.blocks import detect_regions
        from gluon_ocr_spark.kernels.dom import parse_blocks
        from gluon_ocr_spark.kernels.extract import extract_document
        from gluon_ocr_spark.kernels.pdf import is_pdf, pdf_text_lines

        sample = payloads[:KERNEL_SAMPLE]
        html = [p for p in sample if not is_pdf(p)]
        pdf = [p for p in sample if is_pdf(p)]

        def rate(fn, items) -> float:
            if not items:
                return 0.0
            t = time.perf_counter()
            for x in items:
                fn(x)
            return len(items) / (time.perf_counter() - t)

        parsed = [parse_blocks(p) for p in html]
        return {
            "kernels.extract.docs_per_s": rate(extract_document, sample),
            "kernels.dom.docs_per_s": rate(parse_blocks, html),
            "kernels.blocks.docs_per_s": rate(detect_regions, parsed),
            "kernels.pdf.docs_per_s": rate(pdf_text_lines, pdf),
        }

    def _extract_probes(self, tracer, src, n_pages: int, kernel_rate: float) -> dict[str, float]:
        """Source → salt exchange → Arrow UDF edge → kernel, each run to
        noop. ``src`` is the page source the job extracts: the scan, or
        for a resume the scan anti-joined against committed urls."""
        from gluon_ocr_spark.operators.extract import extract_docs
        from gluon_ocr_spark.operators.partitioning import salt_partition

        pruned = src.select("url", "html")
        salted = salt_partition(pruned, self.num_partitions)
        source = self._probe(tracer, "probe.source", lambda: pruned)
        salt = self._probe(tracer, "probe.salt", lambda: salted)
        arrow = self._probe(tracer, "probe.arrow", lambda: salted.mapInPandas(_identity, pruned.schema))
        extract = self._probe(tracer, "probe.extract", lambda: extract_docs(src, num_partitions=self.num_partitions))
        kernel_ideal = n_pages / (slots() * kernel_rate)
        return {
            "trace.source_s": source,
            "operators.partitioning.salt_s": salt - source,
            "operators.extract.arrow_s": arrow - salt,
            "operators.extract.job_s": extract,
            "operators.extract.efficiency": kernel_ideal / extract,
            "trace.kernel_ideal_s": kernel_ideal,
        }


# -- extraction ---------------------------------------------------------------

class ExtractResume(Workload):
    """``ExtractionJob.run`` resuming a half-committed warehouse over a
    mixed HTML/PDF crawl: lineage read, anti-join of every page,
    extraction and commit of the other half."""

    name = "extract_resume"
    n_pages = 3_000
    pages_per_rep = n_pages  # input pages: the job reads and anti-joins all of them

    def make_inputs(self) -> None:
        self.table = inputs.crawl_pages(self.seed, self.n_pages, "mixed")
        self.truth = {
            u: hashlib.md5(t.encode()).hexdigest()
            for u, t in zip(self.table["url"].to_pylist(), self.table["text"].to_pylist())
        }
        inputs.write_parquet(self.table.select(["url", "html"]), self.path("pages.parquet"))
        self.half = self.table.take(inputs.resume_half(self.seed, self.n_pages))
        inputs.write_parquet(self.half.select(["url", "html"]), self.path("half.parquet"))
        self.warehouse = self.path("warehouse")
        self.snapshot = self.path("half-committed")

    def pages(self):
        return self.session.read.parquet(self.path("pages.parquet"))

    def job(self):
        from gluon_ocr_spark.plans.lineage import ExtractionJob

        return ExtractionJob(self.warehouse, num_partitions=self.num_partitions)

    def prior_state(self) -> None:
        """Commit the seed-chosen half."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.job().run(self.session, self.session.read.parquet(self.path("half.parquet")))
        shutil.copytree(self.warehouse, self.snapshot)

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.snapshot, self.warehouse)

    def rep(self) -> None:
        self.job().run(self.session, self.pages())

    def check(self) -> tuple[int, int]:
        """Every url committed exactly once with text byte-identical to
        the truth (compared by md5), and lineage ``url_count`` summing
        to the page count."""
        from pyspark.sql import functions as F

        job = self.job()
        docs = job.read_docs(self.session)
        if docs is None:
            return len(self.truth), len(self.truth)
        got: dict[str, list[str]] = {}
        for r in docs.select("url", F.md5("text").alias("md5")).collect():
            got.setdefault(r["url"], []).append(r["md5"])
        bad = sum(1 for u, want in self.truth.items() if got.get(u) != [want])
        bad += sum(1 for u in got if u not in self.truth)
        committed = job.lineage(self.session).agg(F.sum("url_count")).first()[0] or 0
        return len(self.truth), bad + abs(committed - len(self.truth))

    def probe(self, tracer) -> dict[str, float]:
        """Per-layer probes of the resume, then the job traced. The
        layer sum is source + exchange + UDF edge + the kernel at its
        single-thread rate on every slot + write/commit; what is left
        is the UDF body's loss against that ideal."""
        pages = self.pages()
        done = self.job().committed_urls(self.session)
        todo = pages.join(done, "url", "left_anti")
        half = set(self.half["url"].to_pylist())
        payloads = [h for u, h in zip(self.table["url"].to_pylist(), self.table["html"].to_pylist()) if u not in half]
        m = self._kernel_rates(payloads)
        m.update(self._extract_probes(tracer, todo, len(payloads), m["kernels.extract.docs_per_s"]))
        m["sources.scan_s"] = self._probe(tracer, "probe.scan", lambda: pages.select("url", "html"))
        m["plans.lineage.resume_read_s"] = self._probe(tracer, "probe.resume_read", lambda: done)
        m["plans.lineage.anti_join_s"] = m["trace.source_s"] - m["sources.scan_s"] - m["plans.lineage.resume_read_s"]
        with tracer.span("job"):
            m["trace.job_s"] = timed(self.rep)[0]
        m["plans.lineage.write_commit_s"] = m["trace.job_s"] - m["operators.extract.job_s"]
        m["trace.layer_sum_s"] = (
            m["trace.source_s"] + m["operators.partitioning.salt_s"] + m["operators.extract.arrow_s"]
            + m["trace.kernel_ideal_s"] + m["plans.lineage.write_commit_s"]
        )
        return m


# -- ingest -----------------------------------------------------------------------

class IngestDedup(Workload):
    """``IncrementalCorpus.ingest`` in arrival order, one session, cache
    never cleared. Set-up ingests increment 0 into an empty warehouse
    (the ``drop_near_dups`` path) and keeps that state; each repetition
    restores it (untimed) and ingests increment 1 (``incremental_dedup``
    against the snapshot), so every repetition does the same work."""

    name = "ingest_dedup"
    increments = 2
    docs_per_increment = 800
    pages_per_rep = docs_per_increment
    warm_docs = 200
    warm_ingests = 3
    gate = {"min_tokens": 10, "max_tokens": 100_000, "max_dup_bigram_frac": 0.9}

    def make_inputs(self) -> None:
        self.docs = inputs.corpus_docs(self.seed, self.increments * self.docs_per_increment)
        table = inputs.corpus_pages(self.docs)
        k = self.docs_per_increment
        for i in range(self.increments):
            inputs.write_parquet(table.slice(i * k, k).select(["url", "html"]), self.path(f"inc{i}.parquet"))
        inputs.write_parquet(table.slice(k, self.warm_docs).select(["url", "html"]), self.path("warm.parquet"))
        self.payloads = table["html"].to_pylist()
        self.warehouse = self.path("warehouse")
        self.snapshot = self.path("committed")
        self.last = self.increments - 1

    def corpus(self):
        from gluon_ocr_spark.pipeline import IncrementalCorpus

        return IncrementalCorpus(self.warehouse)

    def increment_pages(self, i: int):
        return self.session.read.parquet(self.path(f"inc{i}.parquet"))

    def increment_docs(self, i: int) -> list[dict]:
        return self.docs[i * self.docs_per_increment:(i + 1) * self.docs_per_increment]

    def ingest(self, i: int, pages=None) -> float:
        """Ingest ``pages`` (default: increment ``i``) as increment ``i``
        under its own job group; its time."""
        group = f"ingest.inc{i}.{len(self.spark_jobs)}"
        sc = self.session.sparkContext
        sc.setJobGroup(group, group)
        try:
            t = timed(
                self.corpus().ingest, self.session, self.increment_pages(i) if pages is None else pages, f"inc{i}",
                num_partitions=self.num_partitions, **self.gate,
            )[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark_jobs.append(self.spark.job_count(group))
        return t

    def prior_state(self) -> None:
        """Ingest every increment but the last, and keep that state."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.spark_jobs: list[int] = []
        self.pending = list(range(self.last))  # increments ingested but not yet checked
        self.counters: dict[int, tuple[int, int]] = {}  # (qualified, admitted) of the first ingest
        self.next_ingest_s: list[float] = []
        self.first_ingest_s = self.ingest(0)
        for i in range(1, self.last):
            self.ingest(i)
        shutil.copytree(self.warehouse, self.snapshot)

    def warm(self) -> None:
        """Untimed ingests of a prefix of the timed increment onto the
        restored state: the same job on less data. Ingest time keeps
        falling over the first several ingests in a session (the JVM
        is still compiling the per-job driver path), and short ingests
        get through that sooner than full ones."""
        warm = self.session.read.parquet(self.path("warm.parquet"))
        for _ in range(self.warm_ingests):
            self.reset()
            self.ingest(self.last, warm)

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.snapshot, self.warehouse)

    def rep(self) -> None:
        self.next_ingest_s.append(self.ingest(self.last))
        self.pending.append(self.last)

    def _qualified(self, i: int) -> int:
        """The quality gates recomputed from the source texts."""
        g, n = self.gate, 0
        for d in self.increment_docs(i):
            toks = d["text"].lower().split(" ")
            bigrams = list(zip(toks, toks[1:]))
            dup = round(1 - len(set(bigrams)) / len(bigrams), 4) if bigrams else 0.0
            n += g["min_tokens"] <= len(toks) <= g["max_tokens"] and dup <= g["max_dup_bigram_frac"]
        return n

    def check(self) -> tuple[int, int]:
        """For each increment ingested since the last check: admitted
        texts equal their sources; every fresh doc is admitted and no
        case copy or short doc is; the commit log's ``qualified`` equals
        the gates recomputed from the source, its ``admitted`` equals
        the docs committed, and both equal what the first ingest of that
        increment in this run committed. Over the whole corpus, no two
        admitted docs share ``md5(lower(text))``."""
        from pyspark.sql import functions as F

        corpus = self.corpus()
        lineage = {r["increment_id"]: r for r in self.session.read.parquet(corpus.lineage_dir).collect()}
        keys = [r[0] for r in corpus.read_docs(self.session).select(F.md5(F.lower("text"))).collect()]
        pages, bad = 0, len(keys) - len(set(keys))
        for i in sorted(set(self.pending)):
            src = {d["url"]: d for d in self.increment_docs(i)}
            rows = self.session.read.parquet(os.path.join(corpus.docs_dir, f"increment=inc{i}")).select("url", "text").collect()
            got = {r["url"]: r["text"] for r in rows}
            bad += sum(1 for u, t in got.items() if u not in src or src[u]["text"] != t)
            bad += sum(1 for u, d in src.items() if d["kind"] != "near" and (d["kind"] == "fresh") != (u in got))
            lin = lineage.get(f"inc{i}")
            if lin is None:
                bad += len(src)
            else:
                counters = (lin["qualified"], lin["admitted"])
                bad += abs(counters[0] - self._qualified(i)) + abs(counters[1] - len(got))
                bad += len(src) * (self.counters.setdefault(i, counters) != counters)
            pages += len(src)
        self.pending = []
        return pages, bad

    def probe(self, tracer) -> dict[str, float]:
        """One traced ingest of the last increment, then per-operator
        probes on the first increment (``drop_near_dups`` path) and the
        last (``incremental_dedup`` against the increments before it)."""
        from gluon_ocr_spark.operators.dedup import (
            connected_components,
            drop_exact_dups,
            drop_near_dups,
            incremental_dedup,
            jaccard_verify,
            minhash_candidate_pairs,
            snapshot_artifacts,
        )
        from gluon_ocr_spark.operators.extract import extract_docs
        from gluon_ocr_spark.operators.textstats import with_quality, with_repetition, with_token_stats
        from pyspark.sql import functions as F

        with tracer.span("job"):
            self.rep()
        last = self.last
        m = {
            "pipeline.first_ingest_s": self.first_ingest_s,
            "pipeline.next_ingest_s": median(self.next_ingest_s),
            "pipeline.spark_jobs_per_ingest": median(self.spark_jobs),
            "pipeline.cached_mb": self.spark.cached_mb(),
            "trace.job_s": self.next_ingest_s[-1],
        }
        m.update(self._kernel_rates(self.payloads[last * self.docs_per_increment:]))
        m.update(self._extract_probes(tracer, self.increment_pages(last), self.docs_per_increment, m["kernels.extract.docs_per_s"]))
        m["sources.scan_s"] = m["trace.source_s"]

        def gated(i: int):
            g = self.gate
            docs = extract_docs(self.increment_pages(i), num_partitions=self.num_partitions).localCheckpoint(eager=True)
            q = with_repetition(with_quality(with_token_stats(docs))).where(
                (F.col("n_tokens") >= g["min_tokens"]) & (F.col("n_tokens") <= g["max_tokens"])
                & (F.col("n_chars") > 0) & (F.col("dup_bigram_frac") <= g["max_dup_bigram_frac"])
            )
            return self._probe(tracer, f"probe.gates{i}", lambda: q), q.localCheckpoint(eager=True)

        # first-increment path
        _, q0 = gated(0)
        m["operators.dedup.exact_s"] = self._probe(tracer, "probe.exact", lambda: drop_exact_dups(q0, "url", "text"))
        ex0 = drop_exact_dups(q0, "url", "text").localCheckpoint(eager=True)
        m["operators.dedup.near_s"] = self._probe(tracer, "probe.near", lambda: drop_near_dups(ex0, "url", "text"))
        cand = minhash_candidate_pairs(ex0, "url", "text").localCheckpoint(eager=True)
        pairs = jaccard_verify(ex0, cand, "url", "text").select("doc_a", "doc_b").localCheckpoint(eager=True)
        m["operators.dedup.candidate_pairs"] = cand.count()
        m["operators.dedup.verified_pairs"] = pairs.count()
        m["operators.dedup.verify_yield"] = m["operators.dedup.verified_pairs"] / max(1, m["operators.dedup.candidate_pairs"])
        m["operators.dedup.cc_s"] = self._probe(tracer, "probe.cc", lambda: connected_components(pairs))

        # incremental path: the last increment against the ones before it
        corpus = self.corpus()

        def committed(base_dir: str):
            return self.session.read.parquet(*[os.path.join(base_dir, f"increment=inc{i}") for i in range(last)])

        m["operators.textstats.gates_s"], q = gated(last)
        m["operators.dedup.incremental_s"] = self._probe(
            tracer,
            "probe.incremental",
            lambda: incremental_dedup(
                q, committed(corpus.docs_dir), "url", "text",
                base_fps=committed(corpus.fps_dir), base_bands=committed(corpus.bands_dir),
            ),
        )
        written = self.session.read.parquet(os.path.join(corpus.docs_dir, f"increment=inc{last}"))
        fps, bands = snapshot_artifacts(written, "url", "text")
        m["operators.dedup.artifacts_s"] = self._probe(tracer, "probe.artifacts_fps", lambda: fps) + self._probe(
            tracer, "probe.artifacts_bands", lambda: bands
        )
        m["trace.layer_sum_s"] = (
            m["operators.extract.job_s"] + m["operators.textstats.gates_s"]
            + m["operators.dedup.incremental_s"] + m["operators.dedup.artifacts_s"]
        )
        return m


WORKLOADS = {w.name: w for w in (ExtractResume, IngestDedup)}
