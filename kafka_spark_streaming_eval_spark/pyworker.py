"""Python worker daemon that imports the installed PySpark, not Spark's zip.

The JVM puts ``pyspark.zip``, the py4j zip and ``spark-core``'s jar on a
worker's ``sys.path``, and every task's ``importlib.invalidate_caches()``
makes each of their zipimporters re-read its archive's whole directory.
When ``pyspark`` and ``py4j`` also resolve from directories, at the
archive's PySpark version, this module drops the archives and their
importers before it starts ``pyspark.daemon``; otherwise it changes nothing.
"""

import re
import sys
from importlib.machinery import PathFinder


def _version(spec) -> str:
    path = f"{spec.submodule_search_locations[0]}/version.py"
    return re.search(r"__version__.*?=\s*['\"]([^'\"]+)", spec.loader.get_data(path).decode())[1]


def installed_path(path: list[str]) -> list[str]:
    """``path`` without its archive entries when ``pyspark`` and ``py4j``
    resolve from its directories and that ``pyspark`` has the archive's
    version; ``path`` itself otherwise, or when a version cannot be read."""
    dirs = [p for p in path if not p.endswith((".zip", ".jar"))]
    try:
        zipped = PathFinder.find_spec("pyspark", [p for p in path if p not in dirs])
        found = [PathFinder.find_spec(n, dirs) for n in ("pyspark", "py4j")]
        if zipped is None or None in found or _version(found[0]) != _version(zipped):
            return path
    except Exception:
        return path
    return dirs


if __name__ == "__main__":
    kept = installed_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    from pyspark.daemon import manager

    manager()
