"""Profile the salted-extraction hi-core regression (VERDICT r4 item 2).

Times, in ONE fresh JVM at the given core count (fresh subprocess per
bench discipline — run this script directly, not from a warm session):

  scan        parquet scan + payload byte sum (no shuffle, no Python)
  salt_noop   scan + full-range salt repartition + byte sum (the
              shuffle cost in isolation — no Python either side)
  unsalted    extract_docs scan-direct (the production layout path)
  salted      extract_docs with the per-job salt shuffle

so the salted-vs-unsalted delta decomposes into "shuffle bytes" vs
"everything else" (worker feed shape, batch sizes, stragglers).

Usage: python scripts/profile_salted.py [cores] [pages_path]
"""

from __future__ import annotations

import json
import os
import sys
import time

# the checkout this script lives in, for this process and for the
# Spark Python workers it starts (they inherit PYTHONPATH, not sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    pages_path = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".bench_cache", "pages_100000")
    )
    from pyspark.sql import functions as F

    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.operators.partitioning import salt_partition
    from gluon_ocr_spark.session import make_session

    spark = make_session(
        app=f"profile-salted-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 3,
        extra={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    out: dict = {"cores": cores}
    try:
        pages = spark.read.parquet(pages_path)
        # same warmup as bench.py: every python worker + JIT + footers
        extract_docs(pages.limit(cores * 512).repartition(cores * 2)).count()

        def timed(label, thunk, n=3):
            best, times = None, []
            for _ in range(n):
                t0 = time.time()
                thunk()
                dt = time.time() - t0
                times.append(round(dt, 2))
                best = dt if best is None else min(best, dt)
            out[label] = {"best": round(best, 2), "trials": times}

        pruned = pages.select("url", "html")
        timed("scan", lambda: pruned.agg(F.sum(F.octet_length("html"))).collect())
        timed(
            "salt_noop",
            lambda: salt_partition(pruned, cores * 3)
            .agg(F.sum(F.octet_length("html")))
            .collect(),
        )
        timed(
            "unsalted",
            lambda: extract_docs(pages)
            .agg(F.count("*"), F.sum("n_chars"))
            .collect(),
        )
        timed(
            "salted",
            lambda: extract_docs(pages, num_partitions=cores * 3)
            .agg(F.count("*"), F.sum("n_chars"))
            .collect(),
        )
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
