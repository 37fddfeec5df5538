"""What Spark Python workers see: this package, and cheap zip imports.

Driver side: on a real cluster the job runs ``spark-submit --py-files
pkg.zip`` (north rule; ``python3 -m
ocr_document_recognition_service_spark.pydeps OUT.zip`` writes that
zip).  In-process, ``ensure_py_deps(spark)`` zips the package into a
fresh temp file of this process (removed at exit) and registers it with
``SparkContext.addPyFile``, so executor-side pandas UDFs can import the
extraction kernel regardless of the driver's cwd/sys.path.

Worker side: before EVERY task, even on a reused worker, pyspark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and
CPython 3.11's ``zipimporter`` answers by re-parsing the whole central
directory of its archive.  Workers import from ``pyspark.zip`` (a root
and ~11 sub-package importers, ~10 ms each), the spark-core jar and its
``/org`` importer (~40 ms each) and this package's zip: 0.1–0.3 CPU-s
per task before any of our code runs (``tools/probe_worker_setup.py``
regenerates the per-task number).  ``keep_zip_indexes()`` makes that
re-read conditional on the archive having changed.  Every Python
function the extraction path ships calls it first, so from a worker's
second task on, each importer costs one ``os.stat``.
"""

from __future__ import annotations

import atexit
import functools
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_FLAG = "_ocr_doc_spark_pydeps_added"
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)

# CPython's eager re-read, bound before keep_zip_indexes replaces it
_reread_index = zipimport.zipimporter.invalidate_caches


def write_package_zip(out: str) -> str:
    """Write a zip of this package's ``.py`` files to *out*."""
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        _PKG_NAME, os.path.relpath(full, _PKG_DIR)
                    )
                    zf.write(full, rel)
    return out


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:  # its temp dir went first
        pass


@functools.cache
def package_zip_path() -> str:
    """This process's zip of the package, built fresh on first call in
    a unique temp file that is removed at exit.  A path derived from the
    pid alone could be a stale zip left by a dead process whose pid was
    recycled, and shipping it would run old kernel code on the
    workers."""
    fd, out = tempfile.mkstemp(prefix=f"{_PKG_NAME}-", suffix=".zip")
    os.close(fd)
    atexit.register(_remove, out)
    return write_package_zip(out)


def ensure_py_deps(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _FLAG, True)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(st_mtime_ns, st_size)`` differs from
    when this importer last read it; the stamp is taken before the
    read, so a write racing the read shows at the next call."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_index_stamp", None)
        _reread_index(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_index_stamp") != stamp:
        _reread_index(self)
        self._index_stamp = stamp


def keep_zip_indexes() -> None:
    """In a Spark Python worker, stop ``importlib.invalidate_caches()``
    from re-parsing unchanged zip archives (see the module docstring).
    Idempotent; outside a task (on the driver) it changes nothing."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(f"usage: python3 -m {_PKG_NAME}.pydeps OUT.zip")
    print(write_package_zip(sys.argv[1]))
