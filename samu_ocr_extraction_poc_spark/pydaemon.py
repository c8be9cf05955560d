"""Python worker daemon for sessions built by :func:`session.get_spark`.

Spark starts an executor's Python daemon as ``python -m <module>`` with its
own archives first on ``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar. Before each task reads its
first row, pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 every zipimporter
then re-reads its whole archive (0.15-0.26 CPU-s per task measured on a
4-core host with Spark 4.1.2; under 0.1 ms with the archives gone).

When pyspark and py4j resolve on the path without those archives, and that
pyspark is the archive's version (a pip-installed pyspark is the same
package), this module drops the archives from ``sys.path`` and their
importers from ``sys.path_importer_cache``, then runs ``pyspark.daemon``;
forked workers inherit the pruned path. Otherwise the path stays as Spark
set it. Only the standard library is imported before the pruning.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_PYSPARK_ZIP = "*/python/lib/pyspark.zip"
_SPARK_ARCHIVES = (_PYSPARK_ZIP, "*/python/lib/py4j-*-src.zip", "*.jar")
_VERSION_RE = re.compile(rb"""^__version__\b[^=\n]*=\s*['"]([^'"]+)['"]""", re.M)


def is_spark_archive(entry: str) -> bool:
    """Whether a ``sys.path`` entry is one Spark puts there for its workers."""
    return any(fnmatch.fnmatchcase(entry, p) for p in _SPARK_ARCHIVES)


def _version(source: bytes) -> str | None:
    m = _VERSION_RE.search(source)
    return m.group(1).decode() if m else None


def pruned_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when pyspark or
    py4j does not resolve without them, or when the pyspark that does
    resolve has another ``__version__`` than the archived one."""
    kept = [p for p in path if not is_spark_archive(p)]
    archived = [p for p in path if fnmatch.fnmatchcase(p, _PYSPARK_ZIP)]
    if not archived or PathFinder.find_spec("py4j", kept) is None:
        return path
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations:
        return path
    try:
        with zipfile.ZipFile(archived[0]) as z:
            want = _version(z.read("pyspark/version.py"))
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            found = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if want is not None and want == found else path


def main() -> None:
    path = pruned_path(sys.path)
    if path is not sys.path:
        dropped = set(sys.path) - set(path)
        sys.path[:] = path
        # `python -m` already searched the archives for this module, which
        # left a zipimporter per archive (and per subpackage) in the cache
        for key, finder in list(sys.path_importer_cache.items()):
            if getattr(finder, "archive", None) in dropped:
                del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
