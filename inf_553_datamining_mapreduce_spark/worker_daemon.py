"""Python worker daemon of local sessions: the stock ``pyspark.daemon``,
started from compiled pyspark and without per-task archive rescans.

:func:`~inf_553_datamining_mapreduce_spark.session.get_spark` sets
``spark.python.daemon.module`` to this module for ``local[...]`` masters
and puts the engine root on the workers' ``PYTHONPATH`` so that it can be
found from any working directory. ``pyspark.daemon`` forks every Python
worker from the daemon process, so the workers inherit both changes made
here:

1. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries, no
   bytecode) ahead of site-packages, so every daemon start compiled
   pyspark from source: importing ``pyspark.daemon`` took 1.1 s from the
   zip and 0.2 s from an installed copy (4-core host). When the first
   directory copy of pyspark on ``sys.path`` is the same release as the
   zip (identical ``pyspark/version.py``), archives move behind
   directories and pyspark loads from its bytecode-cached copy.
2. ``pyspark.worker_util`` calls ``importlib.invalidate_caches()`` once
   per task, and every cached ``zipimporter`` then re-reads its archive's
   directory (``pyspark.zip``, the py4j zip, ``python311.zip``, the
   5,359-entry ``spark-core`` jar): 0.12 s per task, whatever the task's
   work. Its ``importlib`` is replaced by a proxy whose
   ``invalidate_caches`` leaves archive finders alone. Everything else is
   still invalidated (directory finders, namespace packages, other meta
   path finders); a zip added with ``addPyFile`` is a new ``sys.path``
   entry, which gets a fresh finder on first import anyway.

Every fallback runs the stock daemon unchanged: a version mismatch keeps
the path order, and a ``pyspark.worker_util`` without a module-level
``importlib`` keeps its own. Nothing in the package ``__init__`` may
import pyspark, or ``python -m`` would load it from the zip first.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_ARCHIVES = (".zip", ".jar", ".egg")


def installed_pyspark_matches_zip(path: list[str]) -> bool:
    """Whether the first directory copy of pyspark on ``path`` is the
    release of ``$SPARK_HOME/python/lib/pyspark.zip``."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return False
    try:
        zipped = zipimport.zipimporter(
            os.path.join(home, "python", "lib", "pyspark.zip")
        ).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return False
    for entry in path:
        if entry.endswith(_ARCHIVES):
            continue
        try:
            with open(os.path.join(entry or os.curdir, "pyspark", "version.py"), "rb") as f:
                return f.read() == zipped
        except OSError:
            continue
    return False


class _NoArchiveRescan:
    """``importlib`` as ``pyspark.worker_util`` sees it, except that
    ``invalidate_caches`` skips the ``zipimporter`` path finders."""

    def __getattr__(self, name: str):
        return getattr(importlib, name)

    @staticmethod
    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        archives = {
            name: finder
            for name, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter) and os.path.isabs(name)
        }
        for name in archives:
            del cache[name]
        try:
            importlib.invalidate_caches()
        finally:
            cache.update(archives)


def python_daemons(spark) -> int:
    """Python processes started directly by the session's JVM: its worker
    daemons, each of which forks its own workers."""
    handles = spark.sparkContext._jvm.java.lang.ProcessHandle.current().children()
    return sum(
        os.path.basename(h.info().command().orElse("")).startswith("python")
        for h in handles.toArray()
    )


def main() -> None:
    if installed_pyspark_matches_zip(sys.path):
        sys.path[:] = [e for e in sys.path if not e.endswith(_ARCHIVES)] + [
            e for e in sys.path if e.endswith(_ARCHIVES)
        ]
    from pyspark import daemon, worker_util

    if getattr(worker_util, "importlib", None) is importlib:
        worker_util.importlib = _NoArchiveRescan()
    daemon.manager()


if __name__ == "__main__":
    main()
