"""Python worker daemon that imports pyspark from the installed package.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the ``py4j-*-src.zip`` and
the spark-core jar at the head of every Python worker's ``sys.path``, and
``pyspark.worker`` calls ``importlib.invalidate_caches()`` before each task. On
CPython 3.11 that makes every ``zipimporter`` re-read its archive's central
directory: 16 importers, 0.15-0.3 s of every task. When an installed pyspark
and py4j resolve outside those archives and the installed pyspark is the
archive's version, this module drops the archives from ``sys.path`` (and
their cached importers) before importing pyspark; otherwise it leaves
``sys.path`` alone. Either way it then runs the stock ``pyspark.daemon``.
``session.get_spark`` selects it through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith("-src.zip")))


def _archive_version(path: list[str]) -> str | None:
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as zf:
                    text = zf.read("pyspark/version.py").decode()
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
            m = re.search(r"__version__\b[^=]*=\s*['\"]([^'\"]+)['\"]", text)
            return m.group(1) if m else None
    return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` minus Spark's archives when pyspark and py4j resolve on what
    is left and the installed pyspark's version equals the archive's;
    otherwise ``path`` unchanged."""
    kept = [p for p in path if not _is_spark_archive(p)]
    if kept == path or any(PathFinder.find_spec(m, kept) is None for m in ("pyspark", "py4j")):
        return path
    installed = next(importlib.metadata.distributions(name="pyspark", path=kept), None)
    if installed is None or installed.version != _archive_version(path):
        return path
    return kept


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for entry in set(sys.path) - set(kept):
        for key in [k for k in sys.path_importer_cache
                    if k == entry or k.startswith(entry + os.sep)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
