"""Python worker entry for local-master sessions (``lrmr_spark.session``
sets it through ``spark.python.worker.module``).

Before each task reaches its first row, ``pyspark.worker_util.
setup_spark_files`` calls ``importlib.invalidate_caches()`` so that
files shipped with ``addPyFile`` / ``--py-files`` become importable. On
Python 3.11 that call also makes every ``zipimporter`` re-read its
archive's directory: ``pyspark.zip`` (one importer per sub-package
path), the py4j source zip and the spark-core jar, about 200 ms per
task. Those archives belong to the Spark installation and never change
while a worker lives, so this entry makes the re-read a no-op for any
archive whose real path lies under the real path of ``SPARK_HOME`` or
of the installed pyspark. Every other archive, including the files
shipped into the SparkFiles directory, is still re-read.

The module name starts with ``pyspark`` because ``pyspark.daemon``
imports no other worker module. Without the daemon
(``spark.python.use.daemon=false``) it runs as ``python -m``, the way
``pyspark.worker`` would.
"""

from __future__ import annotations

import os
import runpy
import zipimport

import pyspark
from pyspark.worker import main

__all__ = ["main"]


def _pyspark_root() -> str:
    # the zip archive when pyspark itself is imported from pyspark.zip
    archive = getattr(pyspark.__spec__.loader, "archive", None)
    return archive or os.path.dirname(pyspark.__file__)


_IMMUTABLE_ROOTS = tuple(
    os.path.join(os.path.realpath(p), "")
    for p in (os.environ.get("SPARK_HOME"), _pyspark_root())
    if p
)


def _immutable(archive: str) -> bool:
    return os.path.join(os.path.realpath(archive), "").startswith(_IMMUTABLE_ROOTS)


_reread_directory = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    if not _immutable(self.archive):
        _reread_directory(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
