"""Python worker start-up: a zip directory cache and a preloading daemon.

Every Spark task that reaches Python runs PySpark's
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On CPython < 3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory on every task: one importer per package directory
imported from ``pyspark.zip`` (~1,700 entries each time), plus those of
the py4j zip and the spark-core jar, about 0.3 CPU-s per task.
CPython 3.12 made the re-read lazy (gh-103200).

Importing this module (``rasterframes_spark/__init__.py`` does it first)
replaces ``zipimport.zipimporter.invalidate_caches`` on Python < 3.12
with one that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the stamp of its last read.  A changed archive
is re-read and a missing one gives ``{}``, as before.

Run as a module it is the Python worker daemon:
``create_rf_spark_session`` sets ``spark.python.daemon.module`` to it.
``python -m`` imports the package (the fix, numpy, pandas, pyarrow and
the kernels) before ``pyspark.daemon`` forks a worker, so every worker
starts with them, including those that run no package code.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read = zipimport._read_directory
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}  # archive -> (stamp, files)


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    """``zipimport._read_directory`` that records the archive's stamp
    (taken before the read, so a write during it forces a re-read)."""
    stamp = _stamp(archive)
    files = _read(archive)
    if stamp is not None:
        _last_read[archive] = (stamp, files)
    return files


def invalidate_caches(self):
    """Reload the file data of the archive path if it changed on disk."""
    last = _last_read.get(self.archive)
    if last is not None and last[0] == _stamp(self.archive):
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}


# Marks the installed replacement with the pid of the process that
# installed it: a daemon-forked worker sees its parent's pid.
invalidate_caches.__rf_zipcache__ = os.getpid()

if (sys.version_info < (3, 12)
        and not hasattr(zipimport.zipimporter.invalidate_caches, "__rf_zipcache__")):
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if getattr(sys, "argv", [])[:1] == ["-m"]:
    # ``python -m rasterframes_spark._pyworker``: runpy imports the package,
    # and so this module, before it runs this file as ``__main__``, and
    # warns about that.  The install guard makes the second run a no-op.
    import warnings

    warnings.filterwarnings(
        "ignore", r"'rasterframes_spark\._pyworker' found in sys\.modules",
        RuntimeWarning)


if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
