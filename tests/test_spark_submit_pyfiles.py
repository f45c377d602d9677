"""North-rule shipping requirement: the job runs via spark-submit
--py-files with the engine imported FROM THE ZIP (not the repo) and
seeded weights broadcast to executors."""

import json
import os
import shutil
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = textwrap.dedent(
    """
    import json, sys
    # guard: the package must resolve from the --py-files zip, not the repo
    assert not any(p == {repo!r} for p in sys.path), "repo leaked into sys.path"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    import gluon_ocr_spark
    assert "gluon_ocr_spark.zip" in gluon_ocr_spark.__file__, gluon_ocr_spark.__file__

    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, 60, seed=7, partitions=2)
    docs = extract_docs(pages, num_partitions=4)
    n = docs.count()

    # broadcast-weights path (S10) from inside the shipped archive
    from gluon_ocr_spark.operators.kernel_queries import kernel_queries
    boxes = kernel_queries()["kernel_dbnet_boxes"](spark, "").count()

    # a worker that has imported the engine from the zip re-reads no zip
    # on sys.path (the zip itself included) at its next task's start-up
    def reads_at_task_start(batches):
        import importlib, zipimport
        import pandas as pd
        import gluon_ocr_spark

        importlib.invalidate_caches()
        calls = []
        original = zipimport._read_directory

        def counted(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame({{"file": [gluon_ocr_spark.__file__], "reads": [len(calls)]}})

    worker = spark.range(0, 2, numPartitions=2).mapInPandas(
        reads_at_task_start, "file string, reads long"
    ).collect()

    print("RESULT" + json.dumps({{
        "docs": n,
        "boxes": boxes,
        "worker_files": [r.file for r in worker],
        "worker_reads": [r.reads for r in worker],
    }}))
    spark.stop()
    """
)


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(os.__file__)), "bin", "spark-submit"
    )
    if not shutil.which("spark-submit"):
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert os.path.exists(spark_submit), spark_submit

    sys.path.insert(0, REPO)
    from scripts.build_pyfiles import build

    zip_path = build(str(tmp_path / "gluon_ocr_spark.zip"))
    job_path = tmp_path / "job.py"
    job_path.write_text(JOB.format(repo=REPO))

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY source
    out = subprocess.run(
        [spark_submit, "--master", "local[2]", "--py-files", zip_path, str(job_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),  # not the repo
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")][-1]
    res = json.loads(line[6:])
    assert res["docs"] == 60
    assert res["boxes"] > 0
    assert all("gluon_ocr_spark.zip" in f for f in res["worker_files"]), res
    assert res["worker_reads"] == [0, 0], res
