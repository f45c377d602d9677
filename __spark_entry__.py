"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship distributed main-content extraction over pages
               synthesized from the sf0.001 documents table.
queries()    — one entry per implemented operator (SURVEY.md §2 +
               training-data-pipeline ops); see gluon_ocr_spark.queries.
oracle_sql() — DuckDB twins rendered from the same templates.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gluon_ocr_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: wrap sf0.001 documents into boilerplate-laden
    HTML pages, run the distributed extraction pipeline, return docs."""
    return _q.extract_roundtrip_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
