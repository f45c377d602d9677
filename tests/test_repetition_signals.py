"""The quality gate's repetition signals and the shingle codes are
linear in the doc length: no Spark lambda body refers to the
token-array expression (``split(lower(text), ' ')``), so the text is
split a fixed number of times per doc, not once per token."""

import random
import re
import time

import pytest

from pyspark.sql import functions as F

from gluon_ocr_spark.functions import portable as pt
from gluon_ocr_spark.functions.portable import SPARK
from gluon_ocr_spark.operators.dedup import codes_table
from gluon_ocr_spark.operators.textstats import quality_gate, with_repetition

EDGE_DOCS = [
    "",
    "solo",
    "two words",
    "same same same same same",
    "double  space  here  here",
    "Upper upper UPPER case Case",
    "a b a b a b c c d",
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(list(enumerate(EDGE_DOCS)), "doc_id int, text string")


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` in a plan string, balanced parens."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end() : i - 1])
    return out


@pytest.mark.parametrize("build", ["quality_gate", "shingle_codes"])
def test_no_lambda_body_resplits_the_text(spark, edge_df, build):
    if build == "quality_gate":
        df = quality_gate(edge_df)
    else:
        df = codes_table(edge_df, pt.shingle_codes("text", SPARK), persist=False)
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")  # print every projected column
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    bodies = _lambda_bodies(plan)
    assert bodies, plan
    assert not [b for b in bodies if "split(" in b], plan


def test_long_doc_passes_the_gate_in_bounded_time(spark):
    # signals quadratic in the length would take minutes here
    rng = random.Random(7)
    text = " ".join(f"w{rng.randrange(5000)}" for _ in range(32_000))
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    t0 = time.perf_counter()
    rows = quality_gate(df).select("n_tokens", "dup_bigram_frac").collect()
    assert time.perf_counter() - t0 < 30
    assert [r["n_tokens"] for r in rows] == [32_000]


def test_repetition_signals_match_index_formula(spark, edge_df):
    """The zip_with signals equal the element_at-per-index formula
    they replaced, on edge-case docs."""
    toks = "split(lower(text), ' ')"
    bg = (
        f"CASE WHEN size({toks}) >= 2 THEN transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) "
        "ELSE array() END"
    )
    reps = (
        f"CASE WHEN size({toks}) >= 2 THEN size(filter(sequence(1, size({toks}) - 1), "
        f"i -> element_at({toks}, i) = element_at({toks}, i + 1))) ELSE 0 END"
    )
    ref = edge_df.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size({bg}) > 0 THEN round(1.0D - "
            f"cast(size(array_distinct({bg})) as double) / size({bg}), 4) ELSE 0.0D END"
        ).alias("dup_bigram_frac"),
        F.expr(
            f"CASE WHEN size({bg}) > 0 THEN round(cast({reps} as double) / size({bg}), 4) "
            "ELSE 0.0D END"
        ).alias("consec_dup_frac"),
    )
    cols = ["doc_id", "dup_bigram_frac", "consec_dup_frac"]
    want = sorted(tuple(r) for r in ref.collect())
    got = sorted(tuple(r) for r in with_repetition(edge_df).select(*cols).collect())
    assert got == want
    # the cases are not all trivial
    assert any(r[1] > 0 for r in want) and any(r[2] > 0 for r in want)
