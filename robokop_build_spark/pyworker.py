"""PySpark daemon that imports pyspark from its installed directory.

Spark starts Python workers with its own archives (python/lib/pyspark.zip,
the py4j source zip and the spark-core jar) ahead of site-packages on
PYTHONPATH, so workers import pyspark from a zip. The worker calls
importlib.invalidate_caches() at the start of every task, and on Python
3.11/3.12 each zip importer then re-reads its whole archive directory:
~26.7k central-directory entries per task before the first row is read.

session.get_spark sets this module as spark.python.daemon.module on local
masters. At start it drops those archives from sys.path (and the importers
already cached for them) when the rest of sys.path imports pyspark and py4j
from directories and that pyspark is the archive's version; otherwise
sys.path is left as it is. Then it runs pyspark's own daemon unchanged.

Run by Spark as: python -m robokop_build_spark.pyworker
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import ModuleSpec, PathFinder

# the jar Spark puts on the workers' path next to its zips holds no Python:
# it is the jar of this class (PythonUtils.sparkPythonPath)
_SPARK_JAR_CLASS = "org/apache/spark/api/python/PythonUtils.class"
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _zipped(spec: ModuleSpec | None) -> bool:
    return spec is not None and isinstance(spec.loader, zipimport.zipimporter)


def _from_dir(spec: ModuleSpec | None) -> bool:
    """A regular package imported from a directory (not an archive, not a
    namespace package)."""
    return spec is not None and spec.has_location and not _zipped(spec)


def _version(spec: ModuleSpec) -> str | None:
    """__version__ of the version.py next to a pyspark spec's __init__."""
    try:
        text = spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py")
        ).decode()
    except OSError:
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _is_spark_jar(entry: str) -> bool:
    if not entry.endswith(".jar"):
        return False
    try:
        with zipfile.ZipFile(entry) as z:
            z.getinfo(_SPARK_JAR_CLASS)
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True


def use_installed_pyspark(path: list[str], importer_cache: dict) -> None:
    """Drop Spark's archives from `path` and their importers from
    `importer_cache` when `path` imports pyspark and py4j from zips, the
    remaining entries import both from directories and that pyspark has the
    archive's version. Otherwise both are left untouched."""
    shipped = PathFinder.find_spec("pyspark", path)
    shipped_py4j = PathFinder.find_spec("py4j", path)
    if not (_zipped(shipped) and _zipped(shipped_py4j)):
        return
    zips = {shipped.loader.archive, shipped_py4j.loader.archive}
    rest = [e for e in path if e not in zips and not _is_spark_jar(e)]
    installed = PathFinder.find_spec("pyspark", rest)
    if (
        not _from_dir(installed)
        or not _from_dir(PathFinder.find_spec("py4j", rest))
        or _version(shipped) is None
        or _version(installed) != _version(shipped)
    ):
        return
    dropped = [e for e in path if e not in rest]
    path[:] = rest
    for key in list(importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del importer_cache[key]


def main() -> None:
    use_installed_pyspark(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
