"""Spark's Python worker daemon, run without Spark's own archives on ``sys.path``.

Spark starts the daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the ``spark-core`` jar ahead of site-packages on its
``PYTHONPATH``, so workers import pyspark from the zip. PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()`` once
per task, and on Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory. A worker
holds 16 of them: twelve on pyspark.zip (1,328 entries each, one per
imported sub-package), two on the py4j zip and two on the spark-core jar
(5,359 entries each). With four workers on a 4-core box that one call took
0.11-0.26 s per task, before the first row reaches Python; it was most of the
fixed per-task cost of a ``pandas_udf`` stage such as the JSON normalizer.

When the installed pyspark can stand in for the zip (importable without the
archives, same ``__version__``; for 4.1.2 the zip's and site-packages'
``daemon.py`` and ``worker.py`` are byte-identical), this module drops the archives from
``sys.path``, purges their importers and runs ``pyspark.daemon.manager()``.
Workers then import pyspark from site-packages with no zipimporter left.
Otherwise ``sys.path`` stays as Spark built it, and this is Spark's default
daemon. ``session.get_spark`` selects it through ``spark.python.daemon.module``.

Only the standard library may be imported before the path edit; that is why
the package ``__init__`` resolves ``get_spark`` lazily.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|.*\.jar")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` minus Spark's archive entries, or ``path`` itself unless the
    pyspark and py4j found without them are the zip's pyspark release."""
    kept = [p for p in path if not _SPARK_ARCHIVE.fullmatch(os.path.basename(p))]
    shipped_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    pyspark = PathFinder.find_spec("pyspark", kept)
    if shipped_zip is None or pyspark is None or PathFinder.find_spec("py4j", kept) is None:
        return path
    try:
        with zipfile.ZipFile(shipped_zip) as z:
            shipped = _VERSION.search(z.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(pyspark.origin), "version.py")) as f:
            installed = _VERSION.search(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    if shipped is None or installed is None or shipped.group(1) != installed.group(1):
        return path
    return kept


def main() -> None:
    kept = without_spark_archives(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    inside = tuple(p + os.sep for p in dropped)  # sub-package importers
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(inside):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
