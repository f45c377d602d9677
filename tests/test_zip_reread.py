"""Importing ``gluon_ocr_spark`` stops ``importlib.invalidate_caches()``
from re-reading unchanged zip archives.

Every PySpark worker task calls ``importlib.invalidate_caches()`` before
it runs, and the workers' ``sys.path`` holds ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar. Before CPython 3.13 each zip importer
re-read its whole archive directory there (~0.19 s of CPU per task).
These tests assert the behaviour, so they also hold on a Python whose
zip importer is already lazy.
"""

import importlib
import sys
import zipfile
import zipimport


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _count_reads(monkeypatch):
    """Record every ``zipimport._read_directory`` call from now on."""
    calls = []
    original = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    import gluon_ocr_spark

    importlib.reload(gluon_ocr_spark)  # re-running the package body is harmless
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zr_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import zr_first

        assert zr_first.VALUE == 1
        importlib.invalidate_caches()  # a worker task's start-up call

        calls = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert calls == []

        # a rewritten archive (new member, new size) is read again
        _write_zip(archive, {"zr_first.py": "VALUE = 1\n", "zr_second.py": "VALUE = 2  # new\n"})
        importlib.invalidate_caches()
        import zr_second

        assert zr_second.VALUE == 2
        assert archive in calls
    finally:
        for name in ("zr_first", "zr_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_worker_task_does_not_reread_spark_zips(spark):
    """A Python worker that has imported the package re-reads no zip on
    ``sys.path`` at the start of its next task."""
    import pandas as pd

    def reads_at_task_start(batches):
        import importlib
        import sys
        import zipimport

        import gluon_ocr_spark  # noqa: F401  what unpickling a program UDF does

        importlib.invalidate_caches()  # this worker's next task start-up
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
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
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(reads_at_task_start, "zips long, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.zips >= 1 for r in rows), rows  # pyspark.zip is always there
    assert all(r.reads == 0 for r in rows), rows
