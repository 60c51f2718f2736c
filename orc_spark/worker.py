"""One-time set-up of a PySpark Python worker process that runs engine UDFs.

Every engine path (encode reduce tasks, ``scan_bins`` decode bins, lookups,
CDC, the tokstripe reader) runs as Python tasks, and a reused worker pays a
fixed cost at the start of each task before the UDF body runs:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``. On Python < 3.12,
  ``zipimport.zipimporter.invalidate_caches`` re-reads the central directory
  of every cached zip importer at once: one importer per ``pyspark.zip``
  sub-package, the spark-core JAR and the py4j zip twice each, 16 reads and
  ~0.11 s per task on a 4-core host. Python 3.12 made it lazy (gh-103200):
  invalidation drops the cached directory, and the next lookup in the
  archive reads it once and shares it. :func:`bootstrap` gives 3.11 the
  same semantics.
- The daemon runs ``gc.collect()`` between tasks over the worker's whole
  import-time heap (~75k objects, 25-50 ms). :func:`bootstrap` collects it
  once and freezes it (``gc.freeze``), so later collections skip it.

Importing ``orc_spark`` runs :func:`bootstrap`; every worker that unpickles
an engine UDF imports the package, so every path gains with no call-site
change. Outside a PySpark worker (no ``PYTHON_WORKER_FACTORY_SECRET`` in the
environment) and on Python >= 3.12 it does nothing.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


class _LazyFiles:
    """A zip importer's ``_files`` after invalidation: the archive directory is
    read (or taken from ``zipimport._zip_directory_cache``) on the first lookup,
    stored back in the cache and installed as the importer's ``_files``.

    The 3.11 ``zipimporter`` reads ``_files`` only by ``[]`` and ``in``."""

    __slots__ = ("_importer",)

    def __init__(self, importer):
        self._importer = importer

    def _load(self):
        imp = self._importer
        files = zipimport._zip_directory_cache.get(imp.archive)
        if files is None:
            try:
                files = zipimport._read_directory(imp.archive)
            except zipimport.ZipImportError:
                files = {}
            else:
                zipimport._zip_directory_cache[imp.archive] = files
        imp._files = files
        return files

    def __getitem__(self, key):
        return self._load()[key]

    def __contains__(self, key):
        return key in self._load()

    def get(self, key, default=None):
        return self._load().get(key, default)


def _lazy_invalidate_caches(self):
    """Mark the archive directory stale; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)
    self._files = _LazyFiles(self)


def bootstrap() -> None:
    """Set up this process once if it is a PySpark worker on Python < 3.12."""
    if sys.version_info >= (3, 12) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    if zipimport.zipimporter.invalidate_caches is _lazy_invalidate_caches:
        return
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    # modules live as long as the worker; what is frozen is never scanned
    # (nor collected) again, later allocations are collected as before
    gc.collect()
    gc.freeze()
