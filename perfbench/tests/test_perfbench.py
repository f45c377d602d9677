"""Small-size tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The Spark tests start a local session and take about seven minutes.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

run.import_program()

import inputs  # noqa: E402
import workloads  # noqa: E402
from harness import Spark  # noqa: E402


class TinyResume(workloads.ExtractResume):
    n_pages = pages_per_rep = 60


class TinyIngest(workloads.IngestDedup):
    docs_per_increment = pages_per_rep = 80
    warm_docs = 20


# -- generators ------------------------------------------------------------------

def test_crawl_pages_deterministic_per_seed():
    a = inputs.crawl_pages(7, 24, "mixed")
    assert a.equals(inputs.crawl_pages(7, 24, "mixed"))
    assert not a.equals(inputs.crawl_pages(8, 24, "mixed"))
    assert [h[:5] == b"%PDF-" for h in a["html"].to_pylist()] == [i % 2 == 1 for i in range(24)]


def test_corpus_deterministic_with_stated_shares():
    a = inputs.corpus_docs(5, 2000)
    assert a == inputs.corpus_docs(5, 2000)
    assert a != inputs.corpus_docs(6, 2000)
    share = {k: sum(d["kind"] == k for d in a) / len(a) for k in ("near", "case", "short")}
    assert abs(share["near"] - inputs.NEAR_DUP_SHARE) < 0.04
    assert abs(share["case"] - inputs.CASE_COPY_SHARE) < 0.02
    assert abs(share["short"] - inputs.SHORT_SHARE) < 0.02
    assert inputs.corpus_pages(a[:50]).equals(inputs.corpus_pages(a[:50]))


def test_resume_half_is_seeded_half():
    h = inputs.resume_half(3, 100)
    assert h == inputs.resume_half(3, 100) and len(h) == 50 and h != inputs.resume_half(4, 100)


# -- Spark -------------------------------------------------------------------------

@pytest.fixture
def spark(tmp_path):
    s = Spark(str(tmp_path), os.path.join(run.ROOT, "gluon_ocr_spark"), event_log=True)
    yield s
    s.shutdown()


def test_check_fails_when_a_committed_text_is_altered(spark, tmp_path):
    wl = TinyResume(spark, str(tmp_path), seed=1)
    wl.make_inputs()
    spark.start()
    wl.prior_state()
    wl.reset()
    wl.rep()
    assert wl.check() == (60, 0)
    files = sorted(glob.glob(os.path.join(wl.warehouse, "docs", "run_id=*", "*.parquet")))
    path = next(p for p in files if pq.read_metadata(p).num_rows)
    t = pq.read_table(path)
    texts = t["text"].to_pylist()
    texts[0] += "!"
    pq.write_table(t.set_column(t.schema.get_field_index("text"), "text", [texts]), path)
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))  # stale checksum
    assert wl.check() == (60, 1)


def spec_names(section: str) -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


def test_listed_workloads_exist():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        assert {w["name"] for w in json.load(f)["workloads"]} == set(workloads.WORKLOADS)


def test_resume_metric_names_match_spec(spark, tmp_path):
    result, _ = run.run(TinyResume(spark, str(tmp_path), 2), spark, 0.0, False, 0.1, log=lambda s: None)
    assert list(result["metrics"]) == spec_names("end_to_end")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3 * 60
    assert all(set(m) == {"value", "unit"} for m in result["metrics"].values())


@pytest.mark.parametrize("cls", [TinyResume, TinyIngest])
def test_traced_metrics_match_spec(spark, tmp_path, cls):
    result, tracer = run.run(cls(spark, str(tmp_path), 3), spark, 0.0, True, 0.1, log=lambda s: None)
    assert list(result["metrics"]) == spec_names("per_layer")
    assert result["correct"], result
    assert {"setup", "job"} <= {s["name"] for s in tracer.spans}


def test_ingest_counters_repeat_for_a_seed(spark, tmp_path):
    wl = TinyIngest(spark, str(tmp_path), 4)
    result, _ = run.run(wl, spark, 0.0, False, 0.1, log=lambda s: None)
    assert result["correct"], result
    assert sorted(wl.counters) == list(range(TinyIngest.increments))
    # a repetition whose counters differ from the first ingest's fails the check
    wl.counters[wl.last] = (0, 0)
    wl.reset()
    wl.rep()
    assert wl.check()[1] >= TinyIngest.docs_per_increment
