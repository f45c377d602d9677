"""gluon_ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the reference pipeline's
detect-then-recognize extraction semantics (Davids929/gluon-ocr,
``scripts/deploy/python_infer/demo.py``) over Common-Crawl-style web
pages ``(url, warc_ts, html, text, lang)``:

* **detect**   — parse the ``html`` payload into DOM text blocks and
  score each block's main-content probability
  (:mod:`gluon_ocr_spark.kernels.dom`,
  :mod:`gluon_ocr_spark.kernels.blocks`), mirroring the reference's
  DB probability-map + threshold/filter post-process
  (``gluonocr/post_process/db_postprocess.py``).
* **recognize** — emit the text of each surviving region as a "line"
  in canonical reading order and assemble the document text as
  ``'\\n'.join(lines)`` with span offsets
  (:mod:`gluon_ocr_spark.kernels.extract`), the engine-pinned T5
  contract of SURVEY.md §2.6.

Everything heavy runs inside batched pandas/Arrow UDFs
(``mapInPandas``); the relational shell (scan → column-prune →
salt/range-partition → UDF → write → lineage commit) is stock
DataFrame API so Catalyst keeps pruning/pushdown.

The kernels are pure Python/NumPy and double as the single-process
oracle used by the test suite, so Spark output is byte-identical to
the oracle by construction; the tests then assert the nontrivial
part — invariance under partitioning/parallelism — plus
checkpoint/resume exactly-once semantics.
"""

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed.

    Every PySpark worker task calls ``importlib.invalidate_caches()``
    before it runs (``worker_util.setup_spark_files``). The workers'
    ``sys.path`` always starts with ``pyspark.zip``, the py4j zip and the
    ``spark-core`` jar, and ``sys.path_importer_cache`` holds one
    ``zipimporter`` per imported subpackage of each. Before CPython 3.13
    each of them re-reads its whole archive directory eagerly: about
    0.19 s of CPU per task for the 14 importers of a local-mode worker,
    whatever the size of the task. 3.13 made the re-read lazy, so there
    this does nothing.

    The wrapper keeps the archive's ``(st_mtime_ns, st_size)`` as of the
    last read (stat taken before the read, so a change during the read
    still shows next time). An unchanged archive hands the importer the
    shared cached directory; a changed one, or one whose stat fails, goes
    through the original method. New ``sys.path`` entries still get new
    importers, so ``addPyFile`` keeps working. Idempotent, also on
    ``importlib.reload``.
    """
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return

    original = getattr(zipimport.zipimporter, "invalidate_caches", None)  # 3.10+
    if original is None or getattr(original, "_skips_unchanged", False):
        return
    stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
