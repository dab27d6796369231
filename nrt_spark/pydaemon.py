"""Python worker daemon entry (``spark.python.daemon.module``).

Spark starts its Python worker daemon as ``python -m <module>`` with
``pyspark.zip``, the py4j source zip and the ``spark-core`` jar on
``PYTHONPATH``.  Every task then runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; under CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's whole directory
(``pyspark.zip`` has 1,328 entries, the jar 5,359): about 0.2 s of CPU
per task.

This module drops those three JVM-supplied archives from ``sys.path``
and evicts their importers from ``sys.path_importer_cache`` before
anything imports pyspark, then runs ``pyspark.daemon`` as ``__main__``,
so the workers import pyspark from the installed package and the
per-task cache invalidation has no archive left to rescan.  It does so
only when the installed pyspark's ``version.py`` is the zip's, byte for
byte, and py4j is installed too; otherwise the path is left as Spark
built it.  Other zips and jars (``--py-files``, ``PYTHONPATH``) are
kept.

It imports nothing from pyspark or from the rest of ``nrt_spark``
(whose ``__init__`` is import-free) before the path is filtered.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_jvm_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip"
            or (name.startswith("py4j-") and name.endswith("-src.zip"))
            or (name.startswith("spark-core_") and name.endswith(".jar")))


def _zip_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0],
                               "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def filter_path(path: list[str]) -> list[str]:
    """``path`` without the JVM-supplied archives, or ``path`` itself
    unchanged when pyspark or py4j would not import without them."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    kept = [p for p in path if not _is_jvm_archive(p)]
    installed = _installed_version(kept)
    if (installed is None or installed != _zip_version(zips[0])
            or PathFinder.find_spec("py4j", kept) is None):
        return path
    return kept


def main() -> None:
    kept = filter_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
