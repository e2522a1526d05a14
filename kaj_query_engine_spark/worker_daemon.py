"""Spark's Python worker daemon, run off the installed pyspark.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for ``local[...]`` masters. Spark puts its zipped pyspark and py4j
(``$SPARK_HOME/python/lib``) and its core jar on the workers'
``sys.path``, and before every task ``pyspark.worker_util`` calls
``importlib.invalidate_caches()``. On CPython 3.11 (3.12 made this
lazy) that makes every ``zipimporter`` re-read its archive's whole
directory, so a reused worker re-reads pyspark.zip (1.3k entries), the
py4j zip and the jar once per task and per imported subpackage before
the UDF runs.

When the rest of ``sys.path`` holds an unzipped pyspark and py4j whose
``version.py`` equals the zip's, this module drops Spark's archives
from ``sys.path`` and ``sys.path_importer_cache`` and then runs the
stock ``pyspark.daemon.manager``, so the workers import the same
version from plain directories. Otherwise it runs that daemon
unchanged. It imports nothing but the stdlib before the path is
settled (the package ``__init__`` is lazy for the same reason).
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def _zipped_version(archive: str, name: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read(f"{name}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(name: str, path: list[str]) -> bytes | None:
    """``version.py`` of the package ``name`` that ``path`` imports,
    when it is an unzipped regular package."""
    spec = importlib.machinery.PathFinder.find_spec(name, path)
    origin = spec.origin if spec is not None else None
    if not origin or not os.path.isfile(origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(origin), "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives: pyspark.zip
    and py4j-*.zip under ``spark_home/python/lib`` and jars under
    ``spark_home``. Empty unless both zips are on ``path`` and the rest
    of it imports a pyspark and a py4j of the same version."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    lib = os.path.join(home, "python", "lib")
    zips: dict[str, str] = {}
    jars = []
    for entry in filter(None, path):
        real = os.path.realpath(entry)
        folder, base = os.path.split(real)
        if folder == lib and base == "pyspark.zip":
            zips["pyspark"] = entry
        elif folder == lib and base.startswith("py4j-") and base.endswith(".zip"):
            zips["py4j"] = entry
        elif real.startswith(home + os.sep) and real.endswith(".jar"):
            jars.append(entry)
    if len(zips) < 2:
        return []
    drop = [*zips.values(), *jars]
    rest = [e for e in path if e not in drop]
    for name, archive in zips.items():
        zipped = _zipped_version(archive, name)
        if zipped is None or zipped != _installed_version(name, rest):
            return []
    return drop


def main() -> None:
    drop = spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    if drop:
        sys.path[:] = [e for e in sys.path if e not in drop]
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in drop):
                del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
