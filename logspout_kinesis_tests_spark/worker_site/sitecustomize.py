"""Take Spark's archives off the path of Spark's Python processes, so that
they import the installed, compiled pyspark instead of ``pyspark.zip``.

Spark starts every Python process it launches (the task-worker daemon, the
data-source planner daemons, the streaming source runner) with
``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and its
``spark-core_*.jar`` first on ``PYTHONPATH``.  The zip holds no bytecode, so
each cold process compiles every pyspark module it imports: about 1 s for
the streaming source runner on a 4-vCPU host, against 0.2 s from an
installed package's ``__pycache__``.  And pyspark's worker calls
``importlib.invalidate_caches()`` before every task, which re-reads the
whole directory of every archive an importer holds: 60-100 ms a task for
these three on the same host, most of it the jar's 5 359 entries.

``session.get_spark`` puts this directory on the ``PYTHONPATH`` of the JVM
it launches, which hands it to every Python process it starts.  Python's
``site`` module imports this file at start-up, after site-packages is on
``sys.path`` and before anything imports pyspark.  It drops from
``sys.path``:

- ``pyspark.zip``, when the pyspark found outside Spark's archives has the
  zip's ``__version__``;
- the py4j zip, when ``pyspark.zip`` goes and the py4j found outside
  Spark's archives has the zip's ``__version__``;
- the jar, always: it holds no ``.py`` file.

So a pyspark or py4j of another version is never imported in place of the
zip's.  Dropped entries also leave ``sys.path_importer_cache``, where this
module's own lookups put them.

Standard library only, and imports no pyspark.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _is_pyspark_zip(entry: str) -> bool:
    return os.path.basename(entry) == "pyspark.zip"


def _is_py4j_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.startswith("py4j-") and name.endswith("-src.zip")


def _is_spark_jar(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.startswith("spark-core_") and name.endswith(".jar")


def package_version(package: str, entries: list[str]) -> str | None:
    """``__version__`` of the ``package`` that ``entries`` would import, read
    from its ``version.py`` without importing it; None if there is none."""
    spec = PathFinder.find_spec(package, entries)
    if spec is None or spec.origin is None or spec.loader is None:
        return None
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        text = spec.loader.get_data(version_py).decode("utf-8")
    except (OSError, UnicodeDecodeError):
        return None
    for line in text.splitlines():
        name, sep, value = line.partition("=")
        if sep and name.partition(":")[0].strip() == "__version__":
            return value.strip().strip("'\"")
    return None


def drop_spark_archives(path: list[str]) -> list[str]:
    """``path`` without the Spark archives this module drops."""
    pyspark_zips = [e for e in path if _is_pyspark_zip(e)]
    py4j_zips = [e for e in path if _is_py4j_zip(e)]
    others = [
        e for e in path
        if e not in pyspark_zips and e not in py4j_zips and not _is_spark_jar(e)
    ]

    def installed_is_zips(package: str, zips: list[str]) -> bool:
        version = package_version(package, zips) if zips else None
        return version is not None and package_version(package, others) == version

    if not installed_is_zips("pyspark", pyspark_zips):
        kept = pyspark_zips + py4j_zips
    elif not installed_is_zips("py4j", py4j_zips):
        kept = py4j_zips
    else:
        kept = []
    return [e for e in path if e in others or e in kept]


if __name__ == "sitecustomize":
    kept = drop_spark_archives(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
