"""Python worker daemon that imports PySpark from the installed package.

Spark starts the daemon as ``python -m <spark.python.daemon.module>`` with
its own ``pyspark.zip``, ``py4j-*-src.zip`` and ``spark-core_*.jar`` at the
front of ``PYTHONPATH``. ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and CPython
3.11's ``zipimporter.invalidate_caches()`` re-reads the whole archive
directory, so those zipimporters cost every Python task 100-200 ms.

When ``pyspark`` and ``py4j`` both resolve from the rest of ``sys.path``,
this module drops exactly those three archives and their cached importers
before it runs Spark's own daemon. Otherwise ``sys.path`` stays as Spark
built it.
"""

from __future__ import annotations

import importlib.machinery
import re
import sys

_SPARK_ARCHIVE = re.compile(r"(?:^|[/\\])(?:pyspark\.zip|py4j-[^/\\]*-src\.zip"
                            r"|spark-core_[^/\\]*\.jar)$")


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when ``pyspark`` and ``py4j`` still
    resolve from what remains, else ``path`` itself."""
    kept = [p for p in path if not _SPARK_ARCHIVE.search(p)]
    if len(kept) < len(path) and all(
            getattr(importlib.machinery.PathFinder.find_spec(m, kept),
                    "origin", None) for m in ("pyspark", "py4j")):
        return kept
    return path


def main() -> None:
    kept = worker_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
