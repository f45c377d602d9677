"""Attribute the shuffle-pair residual gap (VERDICT r4 item 6).

The bands scaling job's 4→16 ratio sits ~18% below the raw-mp host
bracket in quiet windows. This decomposes the SAME replicated job into

  codes_count   md5 token-code map pass only (no persist, no shuffle)
  bands_noop    codes (persisted) + 16 sig exprs + inline → noop sink
                (adds the signature compute; still ZERO shuffle)
  full          bands + groupBy(band_id, band_key).count()
                (adds the one agg exchange — the measured pair job)

at one core count per fresh subprocess. If codes_count itself scales
~2.4-2.6x at 4→16 while (full - bands_noop) scales near-linearly, the
gap lives in the JVM md5/alloc map pass (memory-bandwidth bound), not
in the shuffle machinery.

Usage: python scripts/profile_shuffle_gap.py [cores]
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

SF_DIR = "/root/testdata/sf0.1"
REPLICATE = 48


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    from pyspark.sql import functions as F

    from gluon_ocr_spark.functions import portable as pt
    from gluon_ocr_spark.functions.portable import SPARK
    from gluon_ocr_spark.operators.dedup import minhash_bands
    from gluon_ocr_spark.session import make_session

    spark = make_session(
        app=f"profile-gap-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 2,
        extra={"spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xms12g"},
    )
    out: dict = {"cores": cores}
    try:
        spark.range(0, 100000, 1, cores).selectExpr("md5(cast(id as string)) h").where(
            "h like 'a%'"
        ).count()
        docs = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text")
            .crossJoin(spark.range(REPLICATE).withColumnRenamed("id", "rep"))
            .select(
                (F.col("doc_id") * REPLICATE + F.col("rep")).alias("doc_id"),
                F.regexp_replace(
                    F.concat(F.col("rep").cast("string"), F.lit("_"), F.col("text")),
                    " ",
                    F.concat(F.lit(" "), F.col("rep").cast("string"), F.lit("_")),
                ).alias("text"),
            )
            .repartition(cores * 2)
            .persist()
        )
        docs.count()
        warm = docs.limit(4000).persist()
        minhash_bands(warm, materialize_codes=True).groupBy("band_id", "band_key").count().count()
        warm.unpersist()
        minhash_bands(docs, materialize_codes=True).groupBy("band_id", "band_key").count().count()

        codes_expr = pt.token_codes("text", SPARK)

        def timed(label, thunk, n=2):
            best, times = None, []
            for _ in range(n):
                spark.catalog.clearCache()
                docs.persist().count()
                t0 = time.time()
                thunk()
                dt = time.time() - t0
                times.append(round(dt, 2))
                best = dt if best is None else min(best, dt)
            out[label] = {"best": round(best, 2), "trials": times}

        timed(
            "codes_count",
            lambda: docs.select(
                "doc_id", F.expr(codes_expr).alias("codes")
            ).selectExpr("doc_id", "size(codes) n").agg(F.sum("n")).collect(),
        )
        timed(
            "bands_noop",
            lambda: minhash_bands(docs, materialize_codes=True)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        timed(
            "full",
            lambda: minhash_bands(docs, materialize_codes=True)
            .groupBy("band_id", "band_key")
            .count()
            .count(),
        )
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
