"""fits2db_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine covering the capability surface of the
reference ``noaodatalab-user/fits2db`` (a FITS-binary-table -> SQL batch ETL
loader; see SURVEY.md §1) plus the analytics / streaming / LLM-data-pipeline
operator inventory mandated by SURVEY.md §2.

NOTE ON CITATIONS: the reference checkout at /root/reference is empty
(SURVEY.md §0 — verified 0 files), so no reference file:line citations are
possible anywhere in this package. Capability parity claims are grounded in
SURVEY.md §2's normative inventory instead.

Layout (SURVEY.md §7):
  session.py     — tuned SparkSession factory
  tables.py      — explicit fixture schemas + loaders (never inferSchema)
  registry.py    — queries()/oracle_sql() registry powering __spark_entry__
  operators/     — relational + LLM-pipeline + batch-streaming operators
  sources/       — FITS BINTABLE ingest, CSV/JSON scan helpers
  sinks/         — DDL generation, JDBC / CSV bulk emission
  streaming/     — live Structured Streaming modules (watermark, dedup, state)

Importing the package also makes zip-archive import caches re-read only on
change (:func:`_reread_zip_archives_on_change`): every Python worker that
runs this package's code imports it, and PySpark starts each task by
invalidating the import caches.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _reread_zip_archives_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_size, st_mtime_ns)`` changed
    since this importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every Python task (``worker_util.setup_spark_files``). Before 3.13,
    CPython's ``zipimporter.invalidate_caches`` re-reads the whole archive
    directory eagerly, and a worker's ``sys.path`` holds ``pyspark.zip``,
    the py4j zip and jars, so every task re-read archives that had not
    changed: a 4-task stage on a bare ``local[4]`` session took 0.30-0.38 s
    with the re-reads and 0.11-0.12 s without. 3.13 already re-reads
    lazily, so nothing is installed there. Idempotent."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "rereads_on_change", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            signature = (st.st_size, st.st_mtime_ns)
        except OSError:
            signature = None  # gone or unreadable: let the stdlib decide
        if signature is None or signature != getattr(self, "_read_signature", None):
            reread(self)
            self._read_signature = signature

    invalidate_caches.rereads_on_change = True
    cls.invalidate_caches = invalidate_caches


_reread_zip_archives_on_change()
