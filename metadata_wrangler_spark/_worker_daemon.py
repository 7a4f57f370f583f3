"""Python-worker daemon: PySpark's own daemon, minus the archive imports.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of ``PYTHONPATH``.
PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), and on Python 3.11 that
makes each ``zipimporter`` in ``sys.path_importer_cache`` (one per
imported subpackage, ~20 of them) re-read its archive's central
directory: about 0.15 s per task before the first row is touched.

This module drops those archive entries from ``sys.path`` and
``sys.path_importer_cache`` when ``pyspark`` and ``py4j`` are also
importable from a directory (the installed package the driver itself
runs) and that PySpark's ``version.py`` is byte-identical to the
archive's, then runs ``pyspark.daemon`` unchanged. Otherwise the
archives stay and one line on stderr says why (stdout carries the
daemon's port handshake and must stay clean).

``session.get_spark`` pins it as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import runpy
import sys
from importlib.machinery import ModuleSpec, PathFinder, SourceFileLoader


def spark_archives(pythonpath: str) -> list[str]:
    """The ``.zip``/``.jar`` entries Spark put on the worker's path."""
    return [p for p in pythonpath.split(os.pathsep)
            if p.endswith((".zip", ".jar"))]


def _version(spec: ModuleSpec) -> bytes:
    """``pyspark/version.py`` of the copy ``spec`` found, zip or not."""
    return spec.loader.get_data(
        os.path.join(os.path.dirname(spec.origin), "version.py"))


def drop_archives(archives: list[str]) -> str | None:
    """Remove ``archives`` from the import path; return why not, if not."""
    if not archives:
        return None
    kept = [p for p in sys.path if p not in archives]
    for name in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(name, kept)
        if spec is None or not isinstance(spec.loader, SourceFileLoader):
            return f"{name} is importable only from an archive"
    if (_version(PathFinder.find_spec("pyspark", kept))
            != _version(PathFinder.find_spec("pyspark", sys.path))):
        return "the directory's PySpark is not the version Spark ships"
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]
    return None


if __name__ == "__main__":
    why = drop_archives(spark_archives(os.environ.get("PYTHONPATH", "")))
    if why:
        print("metadata_wrangler_spark._worker_daemon: keeping Spark's"
              f" archives on sys.path: {why}", file=sys.stderr)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
