"""spark-submit entry point.

Production invocation (north rule):

    spark-submit --py-files gluon_ocr_spark.zip -m gluon_ocr_spark \
        --pages <iceberg-or-parquet-path> --out <warehouse-path> \
        [--partitions N]

In the sandbox, ``--synthetic N`` generates the seeded corpus instead
of reading a lake table. The job is always resumable: re-running with
the same ``--out`` anti-joins committed urls (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(prog="gluon_ocr_spark")
    ap.add_argument("--pages", help="input pages table path (parquet/Iceberg)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic pages instead of reading --pages")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True, help="output warehouse dir (docs + _lineage)")
    ap.add_argument("--partitions", type=int, default=None, help="salt-repartition width (defaults to cluster parallelism)")
    ap.add_argument(
        "--payload",
        choices=("html", "pdf", "mixed"),
        default="html",
        help="synthetic payload format (--synthetic only); the extraction sniff routes per row",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--ingest-increment",
        metavar="ID",
        help="ingest the input pages as crawl increment ID into the "
        "--out warehouse (exactly-once: extract → gates → incremental "
        "dedup against the stored snapshot artifacts → append docs + "
        "artifacts + lineage; replaying a committed ID is a no-op)",
    )
    ap.add_argument(
        "--prep-corpus",
        action="store_true",
        help="run the FULL corpus-prep pipeline (extract → quality/"
        "repetition gates → exact dedup → verified near-dup prune) "
        "instead of the plain extraction/lineage job",
    )
    ap.add_argument(
        "--no-near-dedup",
        action="store_true",
        help="with --prep-corpus: stop at exact dedup (skip the "
        "minhash→Jaccard→connected-components prune)",
    )
    ap.add_argument(
        "--remove-spans",
        action="store_true",
        help="with --prep-corpus: also strip cross-document duplicated "
        "token runs (span-level exact-substring dedup) before the "
        "quality gates",
    )
    ap.add_argument(
        "--span-method",
        choices=("kgram", "sa"),
        default="kgram",
        help="with --remove-spans: kgram = global K-gram-seeded removal "
        "(default), sa = sharded suffix-array removal (arbitrary-length "
        "matches, per-shard recall)",
    )
    args = ap.parse_args()

    from .plans.lineage import ExtractionJob
    from .session import make_session
    from .sources.pages import pages_dataframe

    spark = make_session(app="gluon-ocr-spark-extract", master=args.master)
    try:
        if args.synthetic:
            pages = pages_dataframe(spark, args.synthetic, seed=args.seed, payload=args.payload)
        elif args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            ap.error("one of --pages / --synthetic is required")
        n_parts = args.partitions or spark.sparkContext.defaultParallelism
        if args.ingest_increment and (
            args.prep_corpus or args.no_near_dedup or args.remove_spans
        ):
            ap.error(
                "--ingest-increment is its own pipeline; it cannot be "
                "combined with --prep-corpus / --no-near-dedup / --remove-spans"
            )
        if args.ingest_increment:
            from .pipeline import IncrementalCorpus

            stats = IncrementalCorpus(args.out).ingest(
                spark, pages, args.ingest_increment, num_partitions=n_parts
            )
        elif args.prep_corpus:
            from .pipeline import prepare_corpus

            stats = prepare_corpus(
                spark,
                pages,
                args.out,
                num_partitions=n_parts,
                near_dedup=not args.no_near_dedup,
                remove_spans=args.remove_spans,
                span_method=args.span_method,
            )
        else:
            job = ExtractionJob(args.out, num_partitions=n_parts)
            stats = job.run(spark, pages)
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
