"""Python worker daemon for the engine's Spark stages.

Spark forks every Python worker of an executor from one daemon process
(``spark.python.daemon.module``; ``session.get_spark`` points it here). Work
done in the daemon before it starts forking is paid once per executor
instead of once per task:

1. The workers' ``sys.path`` loses every archive they need not search, and
   the daemon forgets the zip importers its own start-up cached for them.
   Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar (5,359
   entries, no Python) first on a worker's path. On Python 3.11 each task's
   ``importlib.invalidate_caches()`` re-reads the directory of every cached
   zip importer: with the zips merely moved behind site-packages, four of
   them (the jar twice, as ``<jar>`` and ``<jar>/org``) cost a 0.099 s
   median (0.06-0.14 s) per task inside a local[4] worker. A Spark lib zip
   is dropped when the rest of the path holds its package (pyspark or
   py4j) at the zip's version; an archive with no ``.py`` or ``.pyc`` is
   always dropped. With no zip importer left the call takes 0.11 ms
   (BENCH/boundary_ab.json).
2. The engine's worker-side modules are imported (``operators.skew`` pulls in
   extract, kernels, readability and pipeline, with pandas and pyarrow).
3. ``gc.freeze()`` moves those import-time objects out of the collector's
   reach, so the ``gc.collect()`` the daemon runs after every task walks the
   task's own objects only, not the 75-89k import-time ones (40-47 ms/task).

Then pyspark's own daemon loop runs unchanged.
"""

from __future__ import annotations

import gc
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION_RE = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")
_SPARK_PACKAGES = ("pyspark", "py4j")


def _version_of(source: str) -> str | None:
    m = _VERSION_RE.search(source)
    return m.group(1) if m else None


def _archive_names(entry: str) -> list[str] | None:
    """Member names of a zip or jar path entry; None if it is not one."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            return z.namelist()
    except (OSError, zipfile.BadZipFile):
        return None


def _zip_version(zip_path: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version_of(z.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
    try:
        with open(version_py) as f:
            return _version_of(f.read())
    except OSError:
        return None


def trim_worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the archives a worker need not search, in the same
    order: every zip or jar that holds no ``.py`` or ``.pyc``, and each
    ``$SPARK_HOME/python/lib`` zip whose package (pyspark or py4j) the
    remaining entries provide at the zip's version."""
    archives = {p: names for p in dict.fromkeys(path) if (names := _archive_names(p)) is not None}
    dropped = {
        p for p, names in archives.items()
        if not any(n.endswith((".py", ".pyc")) for n in names)
    }
    spark_zips = []
    if spark_home:
        lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
        spark_zips = [p for p in archives if os.path.dirname(os.path.realpath(p)) == lib]
    rest = [p for p in path if p not in dropped and p not in spark_zips]
    for z in spark_zips:
        for package in _SPARK_PACKAGES:
            version = _zip_version(z, package)
            if version is not None and version == _installed_version(package, rest):
                dropped.add(z)
    return [p for p in path if p not in dropped]


def forget_importers(dropped: set[str]) -> None:
    """Delete the cached path importers of ``dropped`` entries and of any
    path inside them (``<jar>/org``): ``importlib.invalidate_caches()``
    re-reads every cached zip importer, on the path or not."""
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    kept = trim_worker_path(sys.path, os.environ.get("SPARK_HOME"))
    forget_importers(set(sys.path) - set(kept))
    sys.path[:] = kept

    import pyspark.daemon

    import ai_textbook_processor_spark.operators.skew  # noqa: F401

    gc.freeze()
    pyspark.daemon.manager()
