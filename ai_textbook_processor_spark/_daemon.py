"""Python worker daemon for the engine's Spark stages.

Spark forks every Python worker of an executor from one daemon process
(``spark.python.daemon.module``; ``session.get_spark`` points it here). Work
done in the daemon before it starts forking is paid once per executor
instead of once per task:

1. pyspark and py4j load from site-packages, not from the
   ``$SPARK_HOME/python/lib`` zips Spark puts first on the workers' path, when
   the installed pyspark is the same version as the zip's. On Python 3.11
   every task's ``importlib.invalidate_caches()`` re-reads the 1,328-entry
   ``pyspark.zip`` directory once per cached zipimporter: 14 of them when
   pyspark loads from the zip (about 0.11 s/task), 2 when it does not.
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


def _version_of(source: str) -> str | None:
    m = _VERSION_RE.search(source)
    return m.group(1) if m else None


def _zip_pyspark_version(zip_path: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version_of(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_pyspark_version(path: list[str]) -> str | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(list(spec.submodule_search_locations)[0], "version.py")
    try:
        with open(version_py) as f:
            return _version_of(f.read())
    except OSError:
        return None


def prefer_installed_pyspark(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` with the ``$SPARK_HOME/python/lib`` zips moved behind every
    other entry, if the pyspark those other entries hold is the version the
    zip holds; otherwise ``path`` unchanged."""
    if not spark_home:
        return list(path)
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    zips = [p for p in path if p.endswith(".zip") and os.path.dirname(os.path.realpath(p)) == lib]
    spark_zip = next((p for p in zips if os.path.basename(p) == "pyspark.zip"), None)
    rest = [p for p in path if p not in zips]
    if spark_zip is None:
        return list(path)
    zip_version = _zip_pyspark_version(spark_zip)
    if zip_version is None or _installed_pyspark_version(rest) != zip_version:
        return list(path)
    return rest + zips


if __name__ == "__main__":
    sys.path[:] = prefer_installed_pyspark(sys.path, os.environ.get("SPARK_HOME"))

    import pyspark.daemon

    import ai_textbook_processor_spark.operators.skew  # noqa: F401

    gc.freeze()
    pyspark.daemon.manager()
