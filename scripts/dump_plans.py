"""Dump formatted physical plans for the flagship queries → PLANS.md.

Evidence that the relational shell produces the plans a 100TB run
needs: scan-level pushdown, broadcast dimension joins, single-scan
minhash banding, WindowGroupLimit top-k.
"""

from __future__ import annotations

import os
import sys

# the checkout this script lives in, for this process and for the
# Spark Python workers it starts (they inherit PYTHONPATH, not sys.path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))

HEADER = """# Physical-plan evidence (generated by scripts/dump_plans.py)

`explain("formatted")` for the flagship queries at sf0.001, trimmed
to the operator skeleton + pushdown lines. Regenerate after plan-
affecting changes.
"""

KEEP = ("PushedFilters", "ReadSchema")
QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "ann_topk",
    "ann_lsh_topk",
    "dedup_minhash_pairs",
    "dedup_shingle_minhash",
    "events_sessionize",
)


def main() -> None:
    from gluon_ocr_spark import queries as q
    from gluon_ocr_spark.session import make_session

    spark = make_session(master="local[4]", shuffle_partitions=4)
    allq = q.queries()
    out = [HEADER]
    for name in QUERIES:
        df = allq[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        lines = []
        for line in plan.splitlines():
            s = line.strip()
            if s.startswith("(") or any(k in s for k in KEEP):
                lines.append(line.rstrip()[:150])
        out.append(f"## {name}\n\n```\n" + "\n".join(lines) + "\n```\n")

    # extraction pipeline plan
    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.sources.pages import pages_dataframe

    docs = extract_docs(pages_dataframe(spark, 100, 42, partitions=2), num_partitions=4)
    plan = docs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    lines = [l.rstrip()[:150] for l in plan.splitlines() if l.strip().startswith("(")]
    out.append("## extraction pipeline (salted)\n\n```\n" + "\n".join(lines) + "\n```\n")

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
