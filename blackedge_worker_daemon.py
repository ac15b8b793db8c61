"""PySpark's worker daemon, started so workers import the installed
``pyspark`` instead of Spark's ``pyspark.zip``.

Spark starts the daemon as ``python -m <spark.python.daemon.module>``
with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on ``PYTHONPATH``. PySpark then calls
``importlib.invalidate_caches()`` once per task for each Python node
(``worker_util.setup_spark_files``), and on CPython 3.11 that re-reads
the directory of every cached zipimporter: 0.18–0.23 s of CPU per call
with pyspark imported from the zip, about 1e-4 s without.

``blackedge_ocr_spark.session.build_session`` points
``spark.python.daemon.module`` here for a local master. The module
lives outside the package so that importing it imports no pyspark: the
path is rewritten before the daemon's first pyspark import.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib import metadata

_VERSION = re.compile(r"""__version__\s*(?::\s*\w+\s*)?=\s*["']([^"']+)["']""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name.endswith(".jar")
        or name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
    )


def _zip_version(archive: str) -> str | None:
    """``__version__`` of the pyspark in ``archive``, read from its
    ``pyspark/version.py`` without importing it."""
    try:
        with zipfile.ZipFile(archive) as z:
            m = _VERSION.search(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return m.group(1) if m else None


def _installed_version(name: str, path: list[str]) -> str | None:
    """Version of the distribution ``name`` found on ``path``, from its
    package metadata (the package itself is not imported)."""
    for dist in metadata.distributions(name=name, path=path):
        return dist.version
    return None


def drop_spark_archives(path: list[str], cache: dict) -> bool:
    """Remove Spark's archives (``pyspark.zip``, the py4j zip, jars)
    from ``path`` and their importers from ``cache`` — in place, and
    only when the rest of ``path`` holds a pyspark of the zip's version
    and a py4j. Otherwise leave both untouched. Returns whether it
    rewrote them.

    Both must go: ``python -m`` creates zipimporters for every archive
    it walks past while looking for the module, and each one left in
    ``sys.path_importer_cache`` is re-read by ``invalidate_caches()``.
    """
    dropped = [p for p in path if _is_spark_archive(p)]
    kept = [p for p in path if not _is_spark_archive(p)]
    zips = [p for p in dropped if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return False
    version = _zip_version(zips[0])
    if version is None or _installed_version("pyspark", kept) != version:
        return False
    if _installed_version("py4j", kept) is None:
        return False
    path[:] = kept
    for key in list(cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
